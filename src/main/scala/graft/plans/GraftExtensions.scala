package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL-surface registration for the custom expressions, so
  * `spark.sql("SELECT simhash64(text) ...")` works the same as the
  * Column API. Two paths:
  *
  *  - cluster config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (applied at session build, the standard extension hook)
  *  - existing session: `GraftExtensions.register(spark)` injects into
  *    the live function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
    }
    // whole-operator extension: the as-of join logical node's lowering
    e.injectResolutionRule(ResolveAsOfJoin(_))
    // SQL surface for it: `... ASOF [LEFT] JOIN ... ON k = k AND t >= t`
    e.injectParser((_, delegate) => new AsOfSqlParser(delegate))
  }
}

object GraftExtensions {

  /** Every custom expression callable from SQL; each is its
    * expression's companion, which holds its name and builder. */
  val functions: Seq[SqlFunction] = Seq(
    ZOrder64, Fnv64, SimHash64, Winnow64, MinHash64, Shingles64, Mix64, RepRatio64,
    NfcNormalize, CosineSim, DotProduct, HllSketchAgg, HllUnionAgg, HllEstimate, BpeMerge,
    CmsSketchAgg, CmsUnionAgg, CmsEstimate, HistSketchAgg, HistUnionAgg, HistQuantile,
    HistCount)

  /** Register into a live session (local/test path). */
  def register(spark: SparkSession): Unit =
    functions.foreach { f =>
      org.apache.spark.sql.GraftSqlShim.registerFunction(spark, f.name, f.build)
    }
}
