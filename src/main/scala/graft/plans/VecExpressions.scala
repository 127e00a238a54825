package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

import graft.plans.Kernel.{Call, NewArray, column}

/** Vector kernels for the ANN path. */
object VecOps {

  /** The input type of every vector kernel: array<double>, read with
    * `getDouble`. Other element types fail at analysis rather than
    * reading their bytes as doubles. */
  val Vector: ArrayType = ArrayType(DoubleType)

  /** One-pass cosine similarity over two array<double> columns: dot and
    * both norms accumulate in a single loop, no intermediate arrays.
    * (The zip_with/aggregate formulation is a CodegenFallback
    * higher-order function — ~1 ms/row interpreted; this kernel is
    * ~100 ns/row and stays inside whole-stage codegen.) */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Plain dot product kernel (arrays assumed same length). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Indices of the `nprobe` centroids most cosine-similar to `v`,
    * best first. Centroids are pre-normalized by the caller so argmax
    * cosine = argmax dot. One pass over the centroid matrix; selection
    * by repeated max (nprobe is small). */
  def nearestCentroids(v: ArrayData, cents: Array[Array[Double]], nprobe: Int): Array[Int] = {
    val m = cents.length
    // copy the vector to a primitive array ONCE: the inner loop below
    // re-reads every component m times, and ArrayData.getDouble is a
    // virtual call into the unsafe row buffer — for the auto-sized IVF
    // paths m = nlist grows with the corpus, making this the hottest
    // loop of the whole ANN family (same arithmetic, same order, same
    // result; one dim-sized allocation amortized over m rows)
    val vv = v.toDoubleArray()
    val sims = new Array[Double](m)
    var c = 0
    while (c < m) {
      val p = cents(c)
      var s = 0.0; var j = 0
      while (j < p.length) { s += vv(j) * p(j); j += 1 }
      sims(c) = s
      c += 1
    }
    val k = math.min(nprobe, m)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](m)
    var r = 0
    while (r < k) {
      var best = -1; var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < m) {
        if (!taken(i) && sims(i) > bestSim) { best = i; bestSim = sims(i) }
        i += 1
      }
      taken(best) = true; out(r) = best
      r += 1
    }
    out
  }

  /** Single nearest centroid index (the IVF cell assignment). */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]]): Int = {
    val m = cents.length
    val vv = v.toDoubleArray() // see nearestCentroids
    var best = 0; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < m) {
      val p = cents(c)
      var s = 0.0; var j = 0
      while (j < p.length) { s += vv(j) * p(j); j += 1 }
      if (s > bestSim) { best = c; bestSim = s }
      c += 1
    }
    best
  }
  /** Johnson-Lindenstrauss random projection: out(b) = dot(v, planes(b))
    * / sqrt(k) — one pass per plane, division (not reciprocal multiply)
    * so the DuckDB replay `list_inner_product(v, pl) / sqrt(k)` is the
    * byte-identical IEEE operation sequence. */
  def randomProject(v: ArrayData, planes: Array[Array[Double]]): Array[Double] = {
    val k = planes.length
    val rt = math.sqrt(k.toDouble)
    val vv = v.toDoubleArray() // see nearestCentroids
    val out = new Array[Double](k)
    var b = 0
    while (b < k) {
      val p = planes(b)
      var dot = 0.0; var j = 0
      while (j < p.length) { dot += vv(j) * p(j); j += 1 }
      out(b) = dot / rt
      b += 1
    }
    out
  }

  /** Largest |component| (the symmetric int8 quantization range). */
  def maxAbs(v: ArrayData): Double = {
    var m = 0.0; var j = 0
    val n = v.numElements()
    while (j < n) {
      val a = math.abs(v.getDouble(j))
      if (a > m) m = a
      j += 1
    }
    m
  }

  /** Symmetric int8 quantization at a given scale: q_j =
    * floor(v_j / scale + 0.5) — round-half-up in BOTH directions, the
    * one rounding rule that replays as SQL `floor(x + 0.5)` (Math.rint
    * is half-even, SQL round() is half-away; neither matches the other
    * engine). scale = maxAbs/127 bounds |q| at 127 without clamping
    * (fl(x / fl(x/127)) < 127.5 for all finite x). A zero vector
    * (scale = 0) quantizes to zeros. */
  def quantizeI8(v: ArrayData, scale: Double): Array[Int] = {
    val n = v.numElements()
    val out = new Array[Int](n)
    if (scale != 0.0) {
      var j = 0
      while (j < n) {
        out(j) = math.floor(v.getDouble(j) / scale + 0.5).toInt
        j += 1
      }
    }
    out
  }

  /** Product-quantization encode: for each of the m subspaces, the
    * index of the L2-nearest sub-codebook centroid (strict <, so the
    * first minimum wins — replayable as a (dist, j) rank). books is
    * m × ksub × dsub. */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val vv = v.toDoubleArray() // see nearestCentroids
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = books(s)
      val dsub = cb(0).length
      val off = s * dsub
      var best = 0; var bestD = Double.PositiveInfinity
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var dist = 0.0; var d = 0
        while (d < dsub) {
          val diff = vv(off + d) - c(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { best = j; bestD = dist }
        j += 1
      }
      out(s) = best
      s += 1
    }
    out
  }

  /** Asymmetric-distance (ADC) score from PQ codes: Σ_s lut(q)(s)(code_s)
    * — m table lookups + adds per pair instead of `dim` multiplies.
    * luts is queries × m × ksub (per-query inner products of the query
    * sub-vector with every sub-centroid, precomputed driver-side). */
  def pqLutScore(codes: ArrayData, qIdx: Int, luts: Array[Array[Array[Double]]]): Double = {
    val lut = luts(qIdx)
    var s = 0; var acc = 0.0
    while (s < lut.length) { acc += lut(s)(codes.getInt(s)); s += 1 }
    acc
  }

  /** Sign-of-dot-product signature: bit i = 1 iff dot(v, planes(i)) > 0.
    * One pass over the vector per plane, no per-plane Column lambdas —
    * the Column-expression formulation inlined planes.length × dim
    * literals into generated code and took seconds to janino-compile. */
  def hyperplaneSig(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val vv = v.toDoubleArray() // see nearestCentroids
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var dot = 0.0
      var j = 0
      while (j < p.length) { dot += vv(j) * p(j); j += 1 }
      if (dot > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** Hyperplane-LSH signature as a custom codegen expression; the plane
  * matrix rides along as a referenced object, not as inlined literals. */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]])
    extends UnaryKernel("hyperplane_sig", VecOps.Vector, LongType) {
  override def nullSafeEval(v: Any): Any =
    VecOps.hyperplaneSig(v.asInstanceOf[ArrayData], planes)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.hyperplaneSig",
    reference(ctx, "planes", planes, "double[][]"))
}

/** Cosine similarity of two array<double> columns as a codegen binary
  * expression — a single kernel call inside whole-stage codegen. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryKernel(CosineSim.name, (VecOps.Vector, VecOps.Vector), DoubleType) {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.cosine")
}
object CosineSim extends SqlFunction("cosine_sim") {
  def build(es: Seq[Expression]) = CosineSim(es.head, es(1))
}

/** Dot product of two array<double> columns as a codegen expression. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel(DotProduct.name, (VecOps.Vector, VecOps.Vector), DoubleType) {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.dot")
}
object DotProduct extends SqlFunction("dot_product") {
  def build(es: Seq[Expression]) = DotProduct(es.head, es(1))
}

/** IVF cell assignment: index of the nearest (pre-normalized) centroid,
  * as a codegen expression — the centroid matrix rides along as a
  * referenced object exactly like [[HyperplaneSig]]'s planes. */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryKernel("nearest_cell", VecOps.Vector, IntegerType) {
  override def nullSafeEval(v: Any): Any =
    VecOps.nearestCentroid(v.asInstanceOf[ArrayData], cents)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.nearestCentroid",
    reference(ctx, "cents", cents, "double[][]"))
}

/** The `nprobe` nearest centroid indices (best first), for the IVF
  * query-side multi-probe. */
case class NearestCells(child: Expression, cents: Array[Array[Double]], nprobe: Int)
    extends UnaryKernel("nearest_cells", VecOps.Vector,
      ArrayType(IntegerType, containsNull = false), NewArray) {
  override def nullSafeEval(v: Any): Any =
    VecOps.nearestCentroids(v.asInstanceOf[ArrayData], cents, nprobe)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.nearestCentroids",
    reference(ctx, "cents", cents, "double[][]"), nprobe)
}

/** JL random projection to `planes.length` dimensions as a codegen
  * expression — the (k × dim) Gaussian matrix rides along as a
  * referenced object exactly like [[HyperplaneSig]]'s planes. */
case class RandomProject(child: Expression, planes: Array[Array[Double]])
    extends UnaryKernel("random_project", VecOps.Vector,
      ArrayType(DoubleType, containsNull = false), NewArray) {
  override def nullSafeEval(v: Any): Any =
    VecOps.randomProject(v.asInstanceOf[ArrayData], planes)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.randomProject",
    reference(ctx, "planes", planes, "double[][]"))
}

/** Largest |component| of an array<double> column (the symmetric
  * quantization range), as a codegen kernel. */
case class VecMaxAbs(child: Expression)
    extends UnaryKernel("vec_max_abs", VecOps.Vector, DoubleType) {
  override def nullSafeEval(v: Any): Any = VecOps.maxAbs(v.asInstanceOf[ArrayData])
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.maxAbs")
}

/** Symmetric int8 quantization q_j = floor(v_j / scale + 0.5) as a
  * codegen kernel over (array<double>, double). */
case class QuantizeI8(left: Expression, right: Expression)
    extends BinaryKernel("quantize_i8", (VecOps.Vector, DoubleType),
      ArrayType(IntegerType, containsNull = false), NewArray) {
  override def nullSafeEval(v: Any, s: Any): Any =
    VecOps.quantizeI8(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.quantizeI8")
}

/** PQ encode as a codegen expression — the m×ksub×dsub codebook rides
  * as a referenced object like [[NearestCell]]'s centroids. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryKernel("pq_encode", VecOps.Vector,
      ArrayType(IntegerType, containsNull = false), NewArray) {
  override def nullSafeEval(v: Any): Any = VecOps.pqEncode(v.asInstanceOf[ArrayData], books)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.pqEncode",
    reference(ctx, "books", books, "double[][][]"))
}

/** ADC lookup score over (codes array<int>, query index int); the
  * per-query LUT stack rides as a referenced object. */
case class PqLutScore(left: Expression, right: Expression,
                      luts: Array[Array[Array[Double]]])
    extends BinaryKernel("pq_lut_score", (ArrayType(IntegerType), IntegerType), DoubleType) {
  override def nullSafeEval(codes: Any, qi: Any): Any =
    VecOps.pqLutScore(codes.asInstanceOf[ArrayData], qi.asInstanceOf[Int], luts)
  override def kernel(ctx: CodegenContext) = Call("graft.plans.VecOps.pqLutScore",
    reference(ctx, "luts", luts, "double[][][]"))
}

object VecExpressions {
  def hyperplaneSig(c: Column, planes: Array[Array[Double]]): Column =
    column(c)(HyperplaneSig(_, planes))

  def nearestCell(c: Column, cents: Array[Array[Double]]): Column =
    column(c)(NearestCell(_, cents))

  def nearestCells(c: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    column(c)(NearestCells(_, cents, nprobe))

  def cosineSim(a: Column, b: Column): Column = column(a, b)(CosineSim(_, _))

  def dotProduct(a: Column, b: Column): Column = column(a, b)(DotProduct(_, _))

  def randomProject(c: Column, planes: Array[Array[Double]]): Column =
    column(c)(RandomProject(_, planes))

  def vecMaxAbs(c: Column): Column = column(c)(VecMaxAbs(_))

  def quantizeI8(v: Column, scale: Column): Column = column(v, scale)(QuantizeI8(_, _))

  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column =
    column(v)(PqEncode(_, books))

  def pqLutScore(codes: Column, qIdx: Column, luts: Array[Array[Array[Double]]]): Column =
    column(codes, qIdx)(PqLutScore(_, _, luts))
}
