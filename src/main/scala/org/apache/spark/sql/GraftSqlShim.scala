package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Expression <-> Column converters that
  * Spark 4 hid behind the ColumnNode API. Lives in the
  * `org.apache.spark.sql` package purely for access; the standard
  * pattern for third-party Catalyst extensions.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder into a live session's registry. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * private[sql]); needed to hand custom LogicalPlan nodes to the
    * analyzer. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Rebuild a DataFrame over an already-computed InternalRow RDD —
    * the lineage-truncation primitive `localCheckpoint` uses
    * internally, exposed so an iterative loop can materialize a round
    * AND fold an aggregate over it in the SAME job (one barrier per
    * round instead of two), or hand an RDD loop's result back as a
    * frame. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  def toInternalRowRdd(df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** The ACTIVE session's name resolver (case-insensitive unless
    * `spark.sql.caseSensitive`) — for parse-time name comparisons that
    * must agree with how the analyzer will later resolve the names. */
  def activeResolver: (String, String) => Boolean =
    org.apache.spark.sql.internal.SQLConf.get.resolver

  /** Run `body` with a THREAD-CONFINED SQLConf override: a clone of
    * the session's conf with `pairs` applied is installed as this
    * thread's `SQLConf.withExistingConf` thread-local, which
    * `SQLConf.get` consults BEFORE the active session — so any query
    * planned (lazily forced) inside `body` on THIS thread sees the
    * override, while queries planned concurrently on other threads of
    * the same session are untouched. This replaces the session-global
    * `spark.conf.set`/restore pattern, whose override leaked into
    * concurrently-planned queries (the round-16 grouped-pass hazard).
    * The clone is a snapshot: session conf changes made during `body`
    * are not visible inside it.
    *
    * The clone reaches PLANNING-time confs only (what the analyzer,
    * optimizer and planner read through `SQLConf.get`, e.g.
    * `spark.sql.shuffle.partitions`, the one key the production caller
    * `Graph.withShuffleWidth` scopes). Execution-time flags that
    * physical operators read through `SparkPlan.conf`, such as
    * `spark.sql.codegen.fallback`, come from the session conf, so an
    * override of one of them here is silently ignored. */
  def withConfOverride[A](spark: SparkSession, pairs: Map[String, String])
                         (body: => A): A = {
    val base = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val cloned = base.clone()
    pairs.foreach { case (k, v) => cloned.setConfString(k, v) }
    org.apache.spark.sql.internal.SQLConf.withExistingConf(cloned)(body)
  }
}
