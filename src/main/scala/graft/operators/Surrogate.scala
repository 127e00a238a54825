package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key assignment, replacing the reference's
  * `INSERT ... RETURNING id` sequence (db/insert_from_tmp_tables.sql:59-61).
  */
object Surrogate {

  /** Scale path: unique (not contiguous) 64-bit ids with no shuffle and
    * no global sort — partition id in the high bits, per-partition
    * counter in the low bits. Use when ids only need uniqueness +
    * stability within a run, which is all `RETURNING id` guarantees. */
  def scaleSafeIds(df: DataFrame, idName: String): DataFrame =
    df.withColumn(idName, monotonically_increasing_id())

  /** Deterministic contiguous 1-based ids WITHOUT a single-partition
    * sort: range-partition on the key, rank within each partition, and
    * shift by the cumulative partition counts. The only global window
    * runs over `numPartitions` count rows (not data rows), and the
    * offsets frame is broadcast back. Equals `dense_rank() OVER (ORDER
    * BY key)` whenever the input is distinct on the key (the surrogate
    * use case: ids are assigned post-dedup). */
  def rangeDenseIds(df: DataFrame, keys: Seq[Column], idName: String,
                    numPartitions: Int = 32,
                    materialize: Boolean = true): DataFrame = {
    // persisted because BOTH the offsets aggregate and the final join
    // read this subtree: range-boundary sampling depends on row order,
    // so two independent re-evaluations (stage retry, no exchange
    // reuse) could disagree on the key→partition mapping and produce
    // duplicate or non-contiguous ids. Persisting pins one materialized
    // partitioning that every consumer observes.
    val parted = df.repartitionByRange(numPartitions, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = row_number().over(
      Window.partitionBy(col("__pid")).orderBy(keys: _*))
    // The cumulative offsets are computed ON THE DRIVER from the
    // per-partition counts: that is `numPartitions` METADATA rows (not
    // data rows — the same driver-side-header pattern as the IVF
    // quantizer), and it replaces a single-partition global window
    // whose "No Partition Defined" WindowExec warning polluted every
    // bench/verify tail despite being benign here.
    val counts = parted.groupBy(col("__pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsetRows = {
      var acc = 0L
      counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }.toSeq
    }
    val offsets = df.sparkSession.createDataFrame(offsetRows)
      .toDF("__pid", "__offset")
    val out = parted.withColumn("__local", local)
      .join(org.apache.spark.sql.functions.broadcast(offsets), "__pid")
      .withColumn(idName, (col("__local") + col("__offset")).cast("bigint"))
      .drop("__pid", "__local", "__offset")
    // `materialize` (default): eagerly pin the result so the persisted
    // `parted` blocks can be released HERE rather than leaking —
    // callers like the streaming ingest run this once per micro-batch,
    // and un-released cache blocks would accumulate for the life of
    // the query. The materialized result no longer references
    // `parted`, so the unpersist cannot trigger a re-evaluation (and
    // thus re-sampling). NOTE: construction is eager either way — the
    // driver-side offsets computation above already materialized
    // `parted` — so materialize=false only skips the result's own
    // localCheckpoint copy (the persisted input cache then lives until
    // the session drops it); it is NOT a lazy-plan-composition mode.
    if (materialize) {
      val pinned = out.localCheckpoint(true)
      parted.unpersist(blocking = false)
      pinned
    } else out
  }
}
