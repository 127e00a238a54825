package graft
package entry

import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.HashExpressions
import graft.streaming.EventsStreaming
import Common._

/** Relational and temporal table operators: windows, sessions,
  * as-of, range and skew-safe joins, SCD-2 and TPC-H-style reports. */
private[graft] object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-25d: per-group exact quantiles (data-profiling op)
    QuerySpec("q_value_quantiles", (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .select(col("event_type"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75")),
      () => """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.50), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type""".stripMargin),

    // §2b-25l: shuffle-skew pre-flight — the per-key count
    // distribution + suggested salt factor a 100 TB job checks before
    // committing to a partitioning key
    QuerySpec("q_skew_report", (s, dir) =>
      Profile.skewReport(t(s, dir, "events"), Seq("event_type")),
      // per-key counts → one summary row; percentile↔quantile_cont use
      // the same linear interpolation (the q_value_quantiles precedent),
      // avg = exact-integer-sum / count (IEEE-exact both engines)
      () => """WITH c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  max(cnt) AS max_count, round(avg(cnt), 6) AS avg_count,
        |  round(quantile_cont(cnt, 0.5), 6) AS p50_count,
        |  round(quantile_cont(cnt, 0.99), 6) AS p99_count,
        |  round(CAST(max(cnt) AS DOUBLE) / avg(cnt), 6) AS skew_factor,
        |  CAST(ceil(CAST(max(cnt) AS DOUBLE) / avg(cnt)) AS BIGINT) AS suggested_salt
        |FROM c""".stripMargin),

    // the keys the report warns about: top-k by count with share
    QuerySpec("q_heavy_keys", (s, dir) =>
      Profile.heavyHitters(t(s, dir, "events"), Seq("event_type"), k = 3),
      () => """WITH c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT event_type, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM c, t ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin),

    // §2b-29: tumbling-window event aggregation (batch twin of the
    // streaming op)
    QuerySpec("q_window_agg", (s, dir) =>
      EventsStreaming.hourlyAggBatch(t(s, dir, "events")),
      () => """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2b-30: batch twin of the streaming sessionization
    QuerySpec("q_sessionize", (s, dir) =>
      EventsStreaming.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30),
      () => """WITH marked AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, ts_ms,
        |         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM marked),
        |numbered AS (
        |  SELECT user_id, value, ts_ms,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM numbered GROUP BY user_id, session_id""".stripMargin),

    // §2b-30d: batch twin of the stream-stream interval join
    // (click↔purchase attribution within ±5 min per user); the
    // watermark-bounded streaming form is StreamingSpec-pinned equal
    QuerySpec("q_correlate", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // excludeSelfPairs: both sides are slices of the SAME events
      // stream (one shared event-id space)
      EventsStreaming.correlateBatch(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), withinMinutes = 5,
          excludeSelfPairs = true)
        .select(col("user_id"), col("l_id"), col("r_id"), col("lag_seconds"))
    },
      // lag floors EACH side to whole seconds (Spark's unix_timestamp
      // semantics) before differencing — epoch() keeps sub-second
      // fractions and differencing first shifts some lags by 1
      () => """SELECT c.user_id, c.event_id AS l_id, p.event_id AS r_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) -
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts - INTERVAL 5 MINUTES
        | AND p.ts <= c.ts + INTERVAL 5 MINUTES
        | AND c.event_id <> p.event_id""".stripMargin),

    // §2b-29b: ingest-rate anomaly card — per-(type, hour) counts
    // z-scored against the type's own rate distribution; z=2 here so
    // the synthetic stream's natural extremes actually flag
    QuerySpec("q_rate_anomalies", (s, dir) =>
      Profile.rateAnomalies(t(s, dir, "events"), "event_type", "ts",
        zThreshold = 2.0),
      // z from integer power sums (n, Σc, Σc²) — spelled with the same
      // division/multiply/sqrt order as the engine so the doubles and
      // the unrounded |z| >= 2 flag replay exactly
      () => """WITH b AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |         event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type AS t, count(*) AS nb, sum(n_events) AS s,
        |         sum(n_events * n_events) AS ss
        |  FROM b GROUP BY 1),
        |sc AS (
        |  SELECT b.event_type, b.hour_epoch, b.n_events,
        |    CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE) AS mean,
        |    CAST(st.ss AS DOUBLE) / CAST(st.nb AS DOUBLE) -
        |      (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE)) *
        |      (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE)) AS var
        |  FROM b JOIN st ON b.event_type = st.t),
        |z AS (
        |  SELECT event_type, hour_epoch, n_events, mean,
        |    CASE WHEN var > 0
        |         THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(var)
        |         ELSE 0.0 END AS zs
        |  FROM sc)
        |SELECT event_type, hour_epoch, CAST(n_events AS BIGINT) AS n_events,
        |  round(mean, 4) AS expected_rate, round(zs, 4) AS z_score,
        |  abs(zs) >= 2.0 AS is_anomaly
        |FROM z""".stripMargin),

    // §2b-40: z-order (Morton) layout key — interleaves customer and
    // order-day bits so one sort order keeps parquet row-group min/max
    // tight on BOTH dimensions (multi-dimensional scan pruning at
    // 100 TB); the codegen kernel is O(log w) shifts per row
    QuerySpec("q_zorder", (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        HashExpressions.zorder64(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint")).as("z")),
      () => """WITH base AS (
        |  SELECT o_orderkey, CAST(o_custkey AS HUGEINT) AS a,
        |         CAST(datediff('day', DATE '1970-01-01',
        |                       CAST(o_orderdate AS DATE)) AS HUGEINT) AS b
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(range(0, 32), i ->
        |        ((a // CAST(power(2, i) AS HUGEINT)) % 2) * CAST(power(2, 2*i) AS HUGEINT) +
        |        ((b // CAST(power(2, i) AS HUGEINT)) % 2) * CAST(power(2, 2*i+1) AS HUGEINT))),
        |    (x, y) -> x + y) AS BIGINT) AS z
        |FROM base""".stripMargin),

    // §2b-39: SCD-2 dimension versioning — every (customer, order
    // date) price change becomes a version row valid until the next
    // change; the warehouse answer to "what did this dimension look
    // like when the dataset was built"
    QuerySpec("q_scd2_versions", (s, dir) => {
      // subset-partitioned shape (round-11 adjudication of the 5.2×
      // row): repartition on the WINDOW key before the (key, date)
      // aggregation — HashPartitioning on a subset of the grouping
      // keys satisfies the agg's ClusteredDistribution, so BOTH the
      // agg and the lead() window reuse the one exchange (plan went
      // 2 exchanges → 1; measured 0.73 s → 0.45 s at sf0.1)
      val changes = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .repartition(col("o_custkey"))
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("d"))
        .agg(max(col("o_totalprice")).as("price"))
      Scd2.versionize(changes, Seq("o_custkey"), "d")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("price"))
    },
      () => """WITH chg AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         max(o_totalprice) AS price
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, d AS valid_from,
        |       lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS valid_to,
        |       price
        |FROM chg""".stripMargin),

    // §2b-34: backward as-of join — enrich each event with the latest
    // snapshot row at or before it (single shuffle + sort, no
    // join-filter-max explosion). The snapshot stream is self-derived:
    // every 10th event is a "profile snapshot" of its user. Runs the
    // AUTO path: the skew probe samples per-key counts and picks
    // timeSplits (uniform events → 1 → the identical single-pass
    // plan; TemporalSpec asserts the probe ran and chose 1).
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts_ms").as("snap_ms"))
        .agg(max(col("value")).as("snap_value"))
      val pts = ev.filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
      Temporal.asOfJoinBackwardAuto(pts, snaps, Seq("user_id"), "ts_ms",
          "snap_ms")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("matched_snap_ms"), col("snap_value"))
    },
      () => """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |snaps AS (
        |  SELECT user_id, ts_ms AS snap_ms, max(value) AS snap_value
        |  FROM ev WHERE event_id % 10 = 0 GROUP BY user_id, ts_ms),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts_ms,
        |       s.snap_ms AS matched_snap_ms, s.snap_value
        |FROM pts p ASOF LEFT JOIN snaps s
        |  ON p.user_id = s.user_id AND p.ts_ms >= s.snap_ms""".stripMargin),

    // §2b-34 (SQL surface): the SAME as-of join expressed as DuckDB-
    // style `ASOF LEFT JOIN` SQL, parsed by the injected AsOfSqlParser
    // and lowered through ResolveAsOfJoin (requires the session to be
    // built with spark.sql.extensions=graft.plans.GraftExtensions)
    QuerySpec("q_asof_sql", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      ev.filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts_ms").as("snap_ms"))
        .agg(max(col("value")).as("snap_value"))
        .createOrReplaceTempView("asof_sql_snaps")
      ev.filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .createOrReplaceTempView("asof_sql_pts")
      s.sql(
        """SELECT event_id, user_id, ts_ms, matched_snap_ms, snap_value
          |FROM asof_sql_pts ASOF LEFT JOIN asof_sql_snaps
          |ON asof_sql_pts.user_id = asof_sql_snaps.user_id
          |   AND asof_sql_pts.ts_ms >= asof_sql_snaps.snap_ms""".stripMargin)
    },
      // the Spark side is literally ASOF LEFT JOIN SQL too (AsOfSqlParser)
      () => """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |snaps AS (
        |  SELECT user_id, ts_ms AS snap_ms, max(value) AS snap_value
        |  FROM ev WHERE event_id % 10 = 0 GROUP BY user_id, ts_ms),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts_ms,
        |       s.snap_ms AS matched_snap_ms, s.snap_value
        |FROM pts p ASOF LEFT JOIN snaps s
        |  ON p.user_id = s.user_id AND p.ts_ms >= s.snap_ms""".stripMargin),

    // §2b-35: interval containment join via time-bucket equi-join (no
    // cross product / nested-loop plan): events against 2-hour activity
    // windows opened by each snapshot event
    QuerySpec("q_range_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
      val wins = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id").as("window_id"), col("user_id"),
          col("ts_ms").as("start_ms"),
          (col("ts_ms") + lit(7200000L)).as("end_ms"))
      val pts = ev.filter(col("event_id") % 10 =!= 0)
      Temporal.rangeJoin(pts, wins, Seq("user_id"), "ts_ms",
          "start_ms", "end_ms", bucketMs = 1800000L)
        .select(col("event_id"), col("user_id"), col("window_id"),
          col("ts_ms"), col("start_ms"))
    },
      () => """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
        |wins AS (
        |  SELECT event_id AS window_id, user_id, ts_ms AS start_ms,
        |         ts_ms + 7200000 AS end_ms
        |  FROM ev WHERE event_id % 10 = 0),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, w.window_id, p.ts_ms, w.start_ms
        |FROM pts p JOIN wins w
        |  ON p.user_id = w.user_id
        | AND p.ts_ms BETWEEN w.start_ms AND w.end_ms""".stripMargin),

    // §2b-31: salted (two-phase) skew-safe aggregation — the result is
    // key-exact regardless of the salt, so the plain aggregate IS the
    // oracle; counts + decimal-exact sums over the skewed fact table
    QuerySpec("q_salted_agg", (s, dir) =>
      Skew.saltedAgg(
        t(s, dir, "lineitem")
          .withColumn("dp", (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")),
        keys = Seq("l_returnflag"), salts = 16,
        partial = Seq(count(lit(1)).as("n_rows"),
          sum(col("dp")).as("rev")),
        merge = Seq(sum(col("n_rows")).as("n_rows"),
          sum(col("rev")).cast("double").as("revenue")))
        .select(col("l_returnflag"), col("n_rows"), col("revenue")),
      () => """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // §2b-31b: salted skew-safe JOIN — the auto pre-flight measures the
    // fact key distribution (every event_type clears the 1% share bar,
    // so ALL traffic takes the salted branch: hot fact rows spread over
    // 8 salts, dim rows replicated per salt); result is row-exact vs
    // the plain join, so the plain join IS the oracle
    QuerySpec("q_skew_join", (s, dir) => {
      val events = t(s, dir, "events")
      val dim = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"))
      Skew.saltedJoinAuto(events, dim, "event_type", salts = 8)
        .groupBy(col("event_type"), col("type_n"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("total_value"))
    },
      // the salted join is row-exact vs the plain join by construction,
      // so the oracle is the unsalted join + the same aggregate
      () => """WITH d AS (
        |  SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type)
        |SELECT e.event_type, d.type_n, count(*) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.type_n""".stripMargin),

    // headline TPC-H-style aggregates anchoring the bench
    QuerySpec("q_pricing_summary", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-01").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      () => """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q_top_revenue", (s, dir) => {
      // aggregate the fact table FIRST (map-side partial agg shrinks
      // 600k line items to 150k order rows), then broadcast-join the
      // 2-column orders dim — at 100 TB the join input is the
      // aggregate's output, never the raw fact table
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
      rev.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_date"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      () => """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
  )
}
