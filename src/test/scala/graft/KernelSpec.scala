package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AcAutomaton, Bson, Cms, Hist, Hll, Psl, UnigramVocab}
import graft.plans._

/** The scalar kernels of `graft.plans` and their one base,
  * [[graft.plans.Kernel]]. Each kernel keeps two paths, its Scala eval
  * and its generated Java, so one table runs every kernel through both
  * and compares. */
class KernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
  private def str(s: String) = UTF8String.fromString(s)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)

  private val S = StringType
  private val V = ArrayType(DoubleType)
  private val text = str("The cat sat on the mat. The cat sat on the mat again!\nshort\n" +
    "&amp; caf&#233; &lt;b&gt; ab abc ab")
  private val planes = Array(Array(1.0, -0.5, 0.25), Array(-1.0, 2.0, 0.0))
  private val books = // 3 subspaces of 1 dimension, 2 centroids each
    Array(Array(Array(1.0), Array(-1.0)), Array(Array(0.5), Array(0.0)), Array(Array(2.0), Array(-2.0)))

  private def hll: Array[Byte] = {
    val regs = new Array[Byte](Hll.numRegisters(9))
    (1L to 50L).foreach(Hll.update(regs, _, 9))
    regs
  }
  private def cms(n: Int): Array[Byte] = {
    val c = Cms.emptyCounters(4, 16)
    (1 to n).foreach(i => Cms.update(c, i % 5, 4, 16))
    Cms.toBytes(c, 4, 16)
  }
  private def hist(n: Int): Array[Byte] = {
    val c = Hist.emptyCounters()
    (1 to n).foreach(i => Hist.update(c, i * 7L))
    Hist.toBytes(c)
  }

  /** Every scalar kernel with its input rows: a typical one and, where
    * the kernel defines it, an empty one (the NULL rows are added by
    * the test). A model-carrying kernel appears once per transport. */
  private lazy val cases: Seq[(Expression, Seq[Seq[Any]])] = {
    val ft = graft.operators.Classify.loadFastTextSubwordResource("/graft/fasttext_subword_sample.txt")
    val vocab = new UnigramVocab(Array("ab", "a", "b", "c", "abc"),
      Array(-1000000L, -2500000L, -2600000L, -2400000L, -2900000L), unkMicro = -9000000L)
    val bloom = BloomFilter.create(100)
    bloom.putLong(42L)
    val bc = spark.sparkContext
    val texts = Seq(Seq(text), Seq(str("")))
    Seq(
      ZOrder64(in(0, LongType), in(1, LongType)) -> Seq(Seq(12345L, -7L), Seq(0L, 0L)),
      Fnv64(in(0, S)) -> texts,
      SimHash64(in(0, S)) -> texts,
      Winnow64(in(0, S), 4) -> texts,
      MinHash64(in(0, S), 3, 4) -> texts,
      Shingles64(in(0, S), 2) -> texts,
      Mix64(in(0, LongType)) -> Seq(Seq(42L), Seq(0L)),
      RepRatio64(in(0, S)) -> texts,
      CleanLines(in(0, S), 3) -> texts,
      NfcNormalize(in(0, S)) -> Seq(Seq(str("été")), Seq(str(""))),
      HashGramLogit(in(0, S), Array(0.5, -1.0, 2.0, 0.25)) -> texts,
      HashGramBuckets(in(0, S), 16) -> texts,
      GopherRepetition(in(0, S)) -> texts,
      CdcCuts(in(0, S), 4, 2) -> texts,
      HyperplaneSig(in(0, V), planes) -> Seq(Seq(arr(1.0, 2.0, 3.0))),
      CosineSim(in(0, V), in(1, V)) ->
        Seq(Seq(arr(1.0, 2.0, 3.0), arr(3.0, -1.0, 0.5)), Seq(arr(), arr())),
      DotProduct(in(0, V), in(1, V)) ->
        Seq(Seq(arr(1.0, 2.0, 3.0), arr(3.0, -1.0, 0.5)), Seq(arr(), arr())),
      NearestCell(in(0, V), planes) -> Seq(Seq(arr(1.0, 2.0, 3.0))),
      NearestCells(in(0, V), planes, 2) -> Seq(Seq(arr(1.0, 2.0, 3.0))),
      RandomProject(in(0, V), planes) -> Seq(Seq(arr(1.0, 2.0, 3.0))),
      VecMaxAbs(in(0, V)) -> Seq(Seq(arr(1.0, -4.0, 3.0)), Seq(arr())),
      QuantizeI8(in(0, V), in(1, DoubleType)) ->
        Seq(Seq(arr(1.0, -4.0, 3.0), 4.0 / 127), Seq(arr(), 0.0)),
      PqEncode(in(0, V), books) -> Seq(Seq(arr(0.9, 0.1, 1.5))),
      PqLutScore(in(0, ArrayType(IntegerType)), in(1, IntegerType),
        Array(Array(Array(1.0, 2.0), Array(3.0, 4.0)))) -> Seq(Seq(arr(1, 0), 0)),
      HllEstimate(in(0, BinaryType)) -> Seq(Seq(hll), Seq(new Array[Byte](Hll.numRegisters(9)))),
      CmsEstimate(in(0, BinaryType), in(1, LongType)) -> Seq(Seq(cms(20), 3L), Seq(cms(0), 3L)),
      HistQuantile(in(0, BinaryType), in(1, IntegerType)) -> Seq(Seq(hist(20), 5000), Seq(hist(0), 5000)),
      HistCount(in(0, BinaryType)) -> Seq(Seq(hist(20)), Seq(hist(0))),
      BpeMerge(in(0, ArrayType(S)), in(1, S), in(2, S)) -> Seq(
        Seq(arr(str("a"), str("b"), str("c"), str("a"), str("b")), str("a"), str("b")),
        Seq(arr(), str(""), str(""))),
      FromBson(in(0, BinaryType), StructType(Seq(StructField("id", LongType),
        StructField("login", S)))) -> Seq(
        Seq(Bson.doc(Seq("id" -> 7L, "login" -> "octo"))), Seq(Array[Byte](1, 2, 3))),
      AcScan(in(0, S), new AcAutomaton(Array("cat", "the", "zzz"))) -> texts,
      BloomMightContainLong(in(0, LongType), bloom) -> Seq(Seq(42L), Seq(0L)),
      PslSuffixLabels(in(0, S), Psl.parse(Iterator("com", "*.uk", "!www.co.uk"))) ->
        Seq(Seq(str("a.b.co.uk")), Seq(str("example.com")), Seq(str(""))),
      RegexCount(in(0, S), "[aeiou]") -> texts,
      FastTextArgmax(in(0, S), Left(ft)) -> Seq(Seq(str("the cat sat")), Seq(str(""))),
      FastTextArgmax(in(0, S), Right(bc.broadcast(ft))) -> Seq(Seq(str("le chat")), Seq(str(""))),
      UnigramEncode(in(0, S), Left(vocab)) -> Seq(Seq(str("abcab")), Seq(str(""))),
      UnigramEncode(in(0, S), Right(bc.broadcast(vocab))) -> Seq(Seq(str("abab")), Seq(str(""))),
      MainContent(in(0, S), 10) -> texts,
      HtmlEntityDecode(in(0, S)) -> texts,
      CharsetDecode(in(0, BinaryType), in(1, S)) -> Seq(
        Seq("café".getBytes("UTF-8"), str("utf-8")), Seq(Array[Byte](65), str("no-such-charset"))))
  }

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  private val decl = """^(?:abstract |final )?(?:case )?class (\w+)""".r.unanchored

  /** Every concrete kernel class declared under graft/plans. */
  private lazy val kernelClasses: Set[Class[_]] =
    sources("src/main/scala/graft/plans").flatMap(Files.readAllLines(_).asScala)
      .collect { case decl(c) => Class.forName(s"graft.plans.$c") }
      .filter(c => classOf[Kernel].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet

  private def toScala(v: Any, t: DataType): Any = CatalystTypeConverters.convertToScala(v, t)

  test("every scalar kernel's generated code agrees with its eval, NULLs included") {
    val covered = cases.map(_._1.getClass).toSet
    assert(covered == kernelClasses, s"kernels without a case: ${kernelClasses -- covered}")
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    cases.foreach { case (k, typical) =>
      assert(k.checkInputDataTypes().isSuccess, k)
      val arity = k.children.size
      // NULL in every input, then (for two or more inputs) in the last only
      val withNulls = typical ++ Seq(Seq.fill(arity)(null)) ++
        (if (arity > 1) Seq(typical.head.init :+ null) else Nil)
      // nullable and non-nullable inputs take different generated paths;
      // the kernel appears twice so its generated locals must not collide
      val strict = k.transform { case b: BoundReference => b.copy(nullable = false) }
      Seq(k -> withNulls, strict -> typical).foreach { case (e, rows) =>
        // the generated side runs a serialized copy, as an executor does
        val shipped = ser.deserialize[Expression](ser.serialize(e))
        val projection = GenerateUnsafeProjection.generate(Seq(shipped, shipped))
        rows.foreach { values =>
          val row = InternalRow.fromSeq(values)
          val want = toScala(e.eval(row), e.dataType)
          val out = projection(row)
          Seq(0, 1).foreach { i =>
            val got = if (out.isNullAt(i)) null else toScala(out.get(i, e.dataType), e.dataType)
            assert(got == want, s"${e.prettyName} on $values: generated $got, eval $want")
          }
        }
      }
    }
  }

  test("a kernel's input-type check names the function and both signatures") {
    val bad = DotProduct(in(0, ArrayType(FloatType)), in(1, V)).checkInputDataTypes()
    assert(bad.isFailure)
    val msg = bad.toString
    assert(msg.contains("dot_product requires (array<double>, array<double>), " +
      "got (array<float>, array<double>)"), msg)
    assert(Fnv64(in(0, LongType)).checkInputDataTypes().toString
      .contains("fnv64 requires (string), got (bigint)"))
    // element nullability is not part of the declared type
    assert(VecMaxAbs(in(0, ArrayType(DoubleType, containsNull = false)))
      .checkInputDataTypes().isSuccess)
  }

  test("only the kernel base and the aggregates define a type check or generated code") {
    val member = """def (checkInputDataTypes|doGenCode)\b""".r.unanchored
    val offenders = for {
      file <- sources("src/main/scala/graft/plans")
      name = file.getFileName.toString
      if name != "Kernel.scala" && !name.startsWith("AsOf")
      (owner, line) <- Files.readAllLines(file).asScala
        .scanLeft(("", "")) { case ((cls, _), l) => l match {
          case decl(c) => (c, l)
          case _ => (cls, l)
        } }.drop(1)
      if member.findFirstIn(line).isDefined
      if !classOf[AggregateFunction].isAssignableFrom(Class.forName(s"graft.plans.$owner"))
    } yield s"$name: $owner"
    assert(offenders.isEmpty,
      s"declare these through UnaryKernel/BinaryKernel/TernaryKernel: $offenders")
  }

  test("every SQL function is registered under its expression's prettyName") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.distinct == names)
    GraftExtensions.functions.foreach { f =>
      // three integer literals satisfy every builder's arguments
      val built = f.build(Seq.fill(3)(Literal(16)))
      assert(f.info.getName == built.prettyName, f.info.getClassName)
      assert(f.info.getClassName == built.getClass.getName)
    }
  }
}
