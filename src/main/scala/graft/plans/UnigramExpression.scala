package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{UnigramOps, UnigramVocab}
import graft.plans.Kernel.{Call, column}

/** Unigram-LM Viterbi segmentation of a word column
  * (`unigram_encode`): the whole DP runs in ONE codegen kernel call
  * per row, with the vocabulary traveling via [[ModelRef]] —
  * sample-sized vocabularies ride the task binary; a realistic
  * multi-million-piece SentencePiece vocab is broadcast and
  * materialized once per executor JVM instead of once per task.
  * Applied to the DISTINCT-WORD cache, not the corpus, by
  * [[graft.operators.Unigram.encodeDocs]]. */
case class UnigramEncode(child: Expression,
                         vocab: Either[UnigramVocab, Broadcast[UnigramVocab]])
    extends UnaryKernel("unigram_encode", StringType, ArrayType(StringType, containsNull = false)) {
  override def nullSafeEval(v: Any): Any =
    UnigramOps.viterbi(v.asInstanceOf[UTF8String], ModelRef.get(vocab))
  override def kernel(ctx: CodegenContext) = Call("graft.functions.UnigramOps.viterbi",
    reference(ctx, "uvocab", vocab, classOf[UnigramVocab].getName))
}

object UnigramExpression {
  def unigramEncode(word: Column, vocab: UnigramVocab): Column = {
    // pieces (2 bytes a char in the serialized String) + micro scores
    val est = vocab.pieces.iterator.map(_.length.toLong * 2 + 40).sum +
      vocab.lpMicro.length.toLong * 8
    column(word)(UnigramEncode(_, ModelRef.of(vocab, est)))
  }
}
