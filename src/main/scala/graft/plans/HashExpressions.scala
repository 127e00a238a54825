package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextHash
import graft.plans.Kernel.{Call, NewArray, column}

/** 64-bit z-value (Morton interleave) of two long columns' low 32
  * bits — the sort key for multi-dimensional layout (see
  * [[graft.functions.BitOps]]). */
case class ZOrder64(left: Expression, right: Expression)
    extends BinaryKernel(ZOrder64.name, (LongType, LongType), LongType) {
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.BitOps.interleave64(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.BitOps.interleave64")
}
object ZOrder64 extends SqlFunction("zorder64") {
  def build(es: Seq[Expression]) = ZOrder64(es.head, es(1))
}

/** FNV-1a-64 of the whole string (content hash for deterministic
  * splits; oracle-replayable in SQL, unlike xxhash64). */
case class Fnv64(child: Expression) extends UnaryKernel(Fnv64.name, StringType, LongType) {
  override def nullSafeEval(v: Any): Any = TextHash.fnv64(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.fnv64")
}
object Fnv64 extends SqlFunction("fnv64") {
  def build(es: Seq[Expression]) = Fnv64(es.head)
}

/** 64-bit Charikar SimHash of a string's whitespace-token multiset. */
case class SimHash64(child: Expression)
    extends UnaryKernel(SimHash64.name, StringType, LongType) {
  override def nullSafeEval(v: Any): Any = TextHash.simhash64(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.simhash64")
}
object SimHash64 extends SqlFunction("simhash64") {
  def build(es: Seq[Expression]) = SimHash64(es.head)
}

/** Winnowing min-gram fingerprint (Schleimer et al., SIGMOD'03) over
  * k-byte grams. */
case class Winnow64(child: Expression, k: Int)
    extends UnaryKernel(Winnow64.name, StringType, LongType) {
  override def nullSafeEval(v: Any): Any = TextHash.winnow64(v.asInstanceOf[UTF8String], k)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.winnow64", k)
}
object Winnow64 extends SqlFunction("winnow64") {
  def build(es: Seq[Expression]) = Winnow64(es.head, es.lift(1).fold(8)(intArg(_, "gram size")))
}

/** Whole MinHash signature in one kernel pass — replaces numHashes
  * separate string-transform lambdas whose generated code took longer
  * to janino-compile than the query took to run. */
case class MinHash64(child: Expression, k: Int, numHashes: Int)
    extends UnaryKernel(MinHash64.name, StringType, ArrayType(LongType, containsNull = false),
      NewArray) {
  override def nullSafeEval(v: Any): Any =
    TextHash.minhash64(v.asInstanceOf[UTF8String], k, numHashes)
  override def kernel(ctx: CodegenContext) =
    Call("graft.functions.TextHash.minhash64", k, numHashes)
}
object MinHash64 extends SqlFunction("minhash64") {
  def build(es: Seq[Expression]) =
    MinHash64(es.head, intArg(es(1), "shingle size"), intArg(es(2), "signature length"))
}

/** Distinct sorted word-k-shingle hash set (array<long>) — the set
  * representation for exact Jaccard verification. */
case class Shingles64(child: Expression, k: Int)
    extends UnaryKernel(Shingles64.name, StringType, ArrayType(LongType, containsNull = false),
      NewArray) {
  override def nullSafeEval(v: Any): Any = TextHash.shingles64(v.asInstanceOf[UTF8String], k)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.shingles64", k)
}
object Shingles64 extends SqlFunction("shingles64") {
  def build(es: Seq[Expression]) = Shingles64(es.head, intArg(es(1), "shingle size"))
}

/** splitmix64 finisher of a long column ([[TextHash.mix64]]) — the
  * oracle-replayable ordering hash for deterministic sampling (the
  * `q_ann_ivf` quantizer init), where built-in xxhash64 cannot be
  * reproduced by an independent SQL engine. */
case class Mix64(child: Expression) extends UnaryKernel(Mix64.name, LongType, LongType) {
  override def nullSafeEval(v: Any): Any = TextHash.mix64(v.asInstanceOf[Long])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.mix64")
}
object Mix64 extends SqlFunction("mix64") {
  def build(es: Seq[Expression]) = Mix64(es.head)
}

/** One-pass max-bigram-share (Gopher repetition signal) — replaces an
  * explode→count→max/sum pipeline that multiplied the corpus by
  * ~doc-length and shuffled it twice. -1.0 marks "fewer than 2 tokens"
  * (callers filter it, matching the SQL form's dropped rows). */
case class RepRatio64(child: Expression)
    extends UnaryKernel(RepRatio64.name, StringType, DoubleType) {
  override def nullSafeEval(v: Any): Any = TextHash.repRatio64(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.repRatio64")
}
object RepRatio64 extends SqlFunction("repratio64") {
  def build(es: Seq[Expression]) = RepRatio64(es.head)
}

/** C4-style boilerplate line filter ([[TextHash.cleanLines]]) as a
  * single codegen kernel call: per-row line filtering with no line
  * explode (the explode→filter→re-agg formulation shuffles the corpus
  * by ~line count; this is a narrow projection). */
case class CleanLines(child: Expression, minWords: Int)
    extends UnaryKernel("clean_lines", StringType, StringType) {
  override def nullSafeEval(v: Any): Any =
    TextHash.cleanLines(v.asInstanceOf[UTF8String], minWords)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.cleanLines", minWords)
}

/** Unicode NFC normalization ([[graft.functions.Normalize.nfc]]):
  * canonical composition so byte-variant spellings of the same text
  * (é vs e+U+0301) share dedup keys — compose with sha2/fnv64 ahead
  * of any hash-keyed operator. Stays inside whole-stage codegen; the
  * already-normalized (incl. all-ASCII) path is identity. */
case class NfcNormalize(child: Expression)
    extends UnaryKernel(NfcNormalize.name, StringType, StringType) {
  override def nullSafeEval(v: Any): Any =
    graft.functions.Normalize.nfc(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.Normalize.nfc")
}
object NfcNormalize extends SqlFunction("nfc_normalize") {
  def build(es: Seq[Expression]) = NfcNormalize(es.head)
}

/** Hashing-trick linear classifier logit ([[TextHash.hashGramLogit]]):
  * one pass over the text, unigram + adjacent-bigram FNV features into
  * the weight vector's buckets — the weights ride along as a
  * referenced object exactly like [[HyperplaneSig]]'s planes, and the
  * whole inference stays inside whole-stage codegen (the
  * transform/aggregate higher-order-function formulation would be
  * CodegenFallback and evaluate interpreted per row). */
case class HashGramLogit(child: Expression, weights: Array[Double])
    extends UnaryKernel("hashgram_logit", StringType, DoubleType) {
  override def nullSafeEval(v: Any): Any =
    TextHash.hashGramLogit(v.asInstanceOf[UTF8String], weights)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.hashGramLogit",
    reference(ctx, "weights", weights, "double[]"))
}

/** The feature-id half of [[HashGramLogit]]
  * ([[TextHash.hashGramBuckets]]): the identical unigram+bigram walk
  * emitting the bucket sequence (array<long>) instead of a weighted
  * sum — corpus-level feature distributions (DSIR) are then one
  * explode + count away, with the per-doc weighting left to
  * [[HashGramLogit]] so both sides provably share one feature space. */
case class HashGramBuckets(child: Expression, numBuckets: Int)
    extends UnaryKernel("hashgram_buckets", StringType, ArrayType(LongType, containsNull = false)) {
  override def nullSafeEval(v: Any): Any =
    TextHash.hashGramBuckets(v.asInstanceOf[UTF8String], numBuckets)
  override def kernel(ctx: CodegenContext) =
    Call("graft.functions.TextHash.hashGramBuckets", numBuckets)
}

/** Gopher repetition battery ([[TextHash.gopherRepetition]]): nine
  * char-fraction repetition signals (top 2/3/4-gram, duplicate
  * 5..10-gram) in ONE pass with per-doc local counting — no explode,
  * no (doc, gram) shuffle, no UDF; the whole battery stays a narrow
  * codegen projection over the scan. */
case class GopherRepetition(child: Expression) extends UnaryKernel(
    "gopher_repetition", StringType, ArrayType(DoubleType, containsNull = false)) {
  override def nullSafeEval(v: Any): Any =
    TextHash.gopherRepetition(v.asInstanceOf[UTF8String])
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.gopherRepetition")
}

/** Content-defined chunk cut positions (array<int>, ascending, last =
  * text length) — see [[graft.functions.TextHash.cdcCuts]] for the
  * boundary rule and its replay contract. */
case class CdcCuts(child: Expression, w: Int, maskBits: Int) extends UnaryKernel(
    "cdc_cuts", StringType, ArrayType(IntegerType, containsNull = false), NewArray) {
  override def nullSafeEval(v: Any): Any =
    TextHash.cdcCuts(v.asInstanceOf[UTF8String], w, maskBits)
  override def kernel(ctx: CodegenContext) = Call("graft.functions.TextHash.cdcCuts", w, maskBits)
}

/** Custom Catalyst expressions for the near-dup signatures the built-in
  * function library lacks. Each participates in whole-stage codegen via
  * a single static-kernel call (the codegen shape Spark's own hash
  * expressions use), so it stays inside the WholeStageCodegen span of
  * the enclosing projection instead of breaking it the way a Scala UDF
  * would. */
object HashExpressions {
  /** One-pass MinHash signature (array<long>) as a Column function. */
  def minhash64(c: Column, k: Int, numHashes: Int): Column =
    column(c)(MinHash64(_, k, numHashes))

  /** Content-defined chunk cut positions as a Column function. */
  def cdcCuts(c: Column, w: Int = 8, maskBits: Int = 6): Column =
    column(c)(CdcCuts(_, w, maskBits))

  /** Distinct sorted shingle-hash set as a Column function. */
  def shingles64(c: Column, k: Int): Column = column(c)(Shingles64(_, k))

  /** 64-bit z-value of two bigint columns. */
  def zorder64(a: Column, b: Column): Column = column(a, b)(ZOrder64(_, _))

  def fnv64(c: Column): Column = column(c)(Fnv64(_))

  /** splitmix64 of a bigint column (oracle-replayable ordering hash). */
  def mix64(c: Column): Column = column(c)(Mix64(_))

  /** SimHash64 as a Column function. */
  def simhash64(c: Column): Column = column(c)(SimHash64(_))

  /** One-pass max-bigram-share (-1.0 when the text has <2 tokens). */
  def repRatio64(c: Column): Column = column(c)(RepRatio64(_))

  /** Hashing-trick classifier logit over a string column. */
  def hashGramLogit(c: Column, weights: Array[Double]): Column =
    column(c)(HashGramLogit(_, weights))

  /** Hashed-gram feature-bucket sequence over a string column. */
  def hashGramBuckets(c: Column, numBuckets: Int): Column =
    column(c)(HashGramBuckets(_, numBuckets))

  /** Gopher repetition-signal battery over a string column. */
  def gopherRepetition(c: Column): Column = column(c)(GopherRepetition(_))

  /** C4-style boilerplate line filter over a string column. */
  def cleanLines(c: Column, minWords: Int): Column = column(c)(CleanLines(_, minWords))

  /** Winnowing fingerprint as a Column function. */
  def winnow64(c: Column, k: Int = 8): Column = column(c)(Winnow64(_, k))

  /** Hamming distance between two int64 signatures (built-in compose:
    * bit_count(a XOR b) — codegen'd, no custom expression needed). */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast("int")

  /** Unicode NFC normalization ([[NfcNormalize]]). */
  def nfcNormalize(c: Column): Column = column(c)(NfcNormalize(_))
}
