package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Normalize
import graft.operators._
import Common._

/** The reference's own operators (SURVEY §2a): projections, key
  * derivation, cleaning, latest-wins dedup, ids and dimension joins. */
private[graft] object ReferenceQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2a-3: users narrow projection (ght2dm.go:414-431)
    QuerySpec("q_users_projection", (s, dir) => Projections.users(t(s, dir, "customer")),
      () => """SELECT lower(c_name) AS username, c_name AS name,
        |       concat(replace(lower(c_name), '#', '_'), '@example.org') AS email
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin),

    // §2a-4: gh_users 14-col projection (ght2dm.go:375-411) incl. the
    // updated_at<-created_at fill (§2a-10)
    QuerySpec("q_ghusers_projection", (s, dir) => Projections.ghUsers(t(s, dir, "customer")),
      () => """SELECT c_custkey AS user_id,
        |       c_custkey + 1000000 AS github_id,
        |       lower(c_name) AS login,
        |       c_mktsegment AS bio,
        |       'n/a' AS company,
        |       concat(lower(c_name), '@example.org') AS email,
        |       c_acctbal > 0 AS hireable,
        |       CAST(c_nationkey AS INT) AS location_id,
        |       concat('https://avatars.example/u/', c_custkey) AS avatar_url,
        |       concat('https://github.example/', lower(c_name)) AS html_url,
        |       CAST(c_custkey % 5000 AS BIGINT) AS followers_count,
        |       CAST(c_custkey % 500 AS BIGINT) AS following_count,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS created_at,
        |       CASE WHEN c_custkey % 7 = 0
        |            THEN DATE '2014-01-01' + CAST(c_custkey % 365 AS INT)
        |            ELSE DATE '2015-01-01' + CAST(c_custkey % 365 AS INT) END AS updated_at
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin),

    // §2a-2: entity type dispatch (ght2dm.go:294-315)
    QuerySpec("q_entity_dispatch", (s, dir) =>
      Projections.dispatch(t(s, dir, "customer"))
        .select(col("c_custkey"), col("entity_type")),
      () => """SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 'Organization'
        |       ELSE 'User' END AS entity_type FROM customer""".stripMargin),

    // §2a-5: gh_organizations projection (ght2dm.go:340-372)
    QuerySpec("q_ghorgs_projection", (s, dir) =>
      Projections.ghOrganizations(t(s, dir, "customer")),
      () => """SELECT lower(c_name) AS login,
        |       c_custkey + 2000000 AS github_id,
        |       concat('https://avatars.example/o/', c_custkey) AS avatar_url,
        |       concat('https://github.example/o/', lower(c_name)) AS html_url,
        |       c_name AS name, 'n/a' AS company,
        |       CAST(c_nationkey AS INT) AS location_id,
        |       concat(lower(c_name), '@example.org') AS email,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS created_at,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS updated_at
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin),

    // §2a-7: derived clone_path key (ght2dm.go:551-567)
    QuerySpec("q_clone_path", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Normalize.clonePath(col("p_type"), col("p_brand"), col("p_name"))
          .as("clone_path")),
      () => """SELECT p_partkey, lower(concat_ws('/',
        |  coalesce(nullif(p_type, ''), 'unknown'),
        |  coalesce(nullif(p_brand, ''), 'john_doe'),
        |  coalesce(nullif(p_name, ''), '42'))) AS clone_path FROM part""".stripMargin),

    // §2a-8: null-byte strip (ght2dm.go:573-575); the null byte is
    // injected because the synthetic data contains none
    QuerySpec("q_clean_strings", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Normalize.removeNullBytes(concat(col("props"), lit("\u0000")))
          .as("props_clean")),
      () => """SELECT event_id, replace(concat(props, chr(0)), chr(0), '') AS props_clean
        |FROM events""".stripMargin),

    // §2a-9: empty-string -> NULL (ght2dm.go:581-594)
    QuerySpec("q_empty_to_null", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Normalize.emptyToNull(col("props")).as("props_n"),
        Normalize.emptyToNull(lit("")).as("always_null")),
      () => """SELECT event_id, nullif(props, '') AS props_n,
        |       nullif('', '') AS always_null FROM events""".stripMargin),

    // §2a-10: updated_at <- coalesce(updated_at, created_at)
    QuerySpec("q_date_coalesce", (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        Normalize.coalesceUpdated(
          when(col("o_orderkey") % 5 === 0, lit(null).cast("date"))
            .otherwise(col("o_orderdate").cast("date")),
          date_sub(col("o_orderdate").cast("date"), 30)).as("updated_at")),
      () => """SELECT o_orderkey, coalesce(
        |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END,
        |  CAST(o_orderdate AS DATE) - 30) AS updated_at FROM orders""".stripMargin),

    // §2a-11: latest-wins dedup (insert_from_tmp_tables.sql:39-51)
    QuerySpec("q_latest_wins", (s, dir) => qLatestWins(s, dir),
      () => latestWinsSql),

    // §2a-12: anti-join vs existing + non-empty-key guard
    // (insert_from_tmp_tables.sql:52-54)
    QuerySpec("q_anti_join_new", (s, dir) =>
      Dedup.antiJoinNew(
        qLatestWins(s, dir),
        existing = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey")),
        keys = Seq("o_orderkey"),
        guards = Seq(col("o_totalprice") > 0)),
      () => s"""WITH latest AS ($latestWinsSql),
         |existing AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
         |SELECT l.o_orderkey, l.o_custkey, l.o_date, l.o_totalprice
         |FROM latest l LEFT JOIN existing e ON l.o_orderkey = e.o_orderkey
         |WHERE e.o_orderkey IS NULL AND l.o_totalprice > 0""".stripMargin),

    // §2a-13: surrogate id assignment (insert_from_tmp_tables.sql:59-61).
    // rangeDenseIds = dense_rank semantics on the post-dedup key WITHOUT
    // a single-partition global sort (range partition + per-partition
    // rank + broadcast offsets)
    QuerySpec("q_surrogate_ids", (s, dir) =>
      Surrogate.rangeDenseIds(
        t(s, dir, "part").select(
          Normalize.clonePath(col("p_type"), col("p_brand"), col("p_name"))
            .as("clone_path")).dropDuplicates(),
        keys = Seq(col("clone_path")), idName = "repo_id",
        // one-shot query: lazy composition keeps the plan inspectable
        // (PlanSpec) and skips the checkpoint write; the leak-guarding
        // default materialize=true is for per-micro-batch callers
        materialize = false),
      () => """SELECT clone_path, CAST(dense_rank() OVER (ORDER BY clone_path) AS BIGINT) AS repo_id
        |FROM (SELECT DISTINCT lower(concat_ws('/',
        |  coalesce(nullif(p_type, ''), 'unknown'),
        |  coalesce(nullif(p_brand, ''), 'john_doe'),
        |  coalesce(nullif(p_name, ''), '42'))) AS clone_path FROM part) t""".stripMargin),

    // §2a-14: org-membership resolution via broadcast dim joins
    // (ght2dm.go:657-772)
    QuerySpec("q_resolve_members", (s, dir) => {
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      Resolve.joinDim(
          Resolve.joinDim(orders, cust, Seq(("o_custkey", "c_custkey"))),
          nat, Seq(("c_nationkey", "n_nationkey")))
        .select(col("o_orderkey"), col("c_name").as("login"),
          col("n_name").as("nation"))
    },
      () => """SELECT o_orderkey, c_name AS login, n_name AS nation
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin),

    // §2a-15: repo-collaborator resolution, multi-hop + composite
    // full_name key (ght2dm.go:814-959)
    QuerySpec("q_resolve_collabo", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val prt = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      Resolve.joinDim(
          Resolve.joinDim(li, sup, Seq(("l_suppkey", "s_suppkey"))),
          prt, Seq(("l_partkey", "p_partkey")))
        .select(col("l_orderkey"), col("l_linenumber"), col("s_name"), col("p_name"),
          concat(col("s_name"), lit("/"), col("p_name")).as("full_name"))
    },
      () => """SELECT l_orderkey, l_linenumber, s_name, p_name,
        |       concat(s_name, '/', p_name) AS full_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey""".stripMargin),

    // §2a-16: idempotent upsert (fetch*ID existence checks,
    // ght2dm.go:440-490)
    QuerySpec("q_idempotent_upsert", (s, dir) => {
      val all = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      Dedup.idempotentUpsert(
        existing = all.filter(col("c_custkey") % 2 === 0),
        incoming = all, keys = Seq("c_custkey"))
    },
      () => """SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey FROM customer i
        |WHERE NOT EXISTS (SELECT 1 FROM customer e
        |  WHERE e.c_custkey % 2 = 0 AND e.c_custkey = i.c_custkey)""".stripMargin),

    // §2a-6: staging roundtrip — bulk-stage orders hive-partitioned by
    // priority (the reference's COPY into tmp tables), read back with a
    // partition-pruned scan, aggregate; the oracle aggregates the
    // source directly, so the staged bytes are verified end to end
    QuerySpec("q_staging", (s, dir) => {
      val staged = dumpDir(dir) + "_staging/orders"
      Staging.writeStaged(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        staged, partitionByCol = Some("o_orderpriority"))
      Staging.readStaged(s, staged)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
    },
      () => """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey""".stripMargin)
  )

  /** orders staged like tmp_gh_repositories, replaying each row as two
    * dump snapshots (the reference re-imports daily dumps, so the same
    * clone_path appears once per dump): the later snapshot has a newer
    * updated_at (o_date+30) and fewer open issues (lower o_totalprice).
    * o_orderkey plays clone_path, o_date plays updated_at,
    * o_totalprice plays open_issues_count. */
  private def stagedOrders(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("o_date"), col("o_totalprice"))
    val v1 = base.select(col("o_orderkey"), col("o_custkey"), col("o_date"),
      (col("o_totalprice") + 10).as("o_totalprice"))
    val v2 = base.select(col("o_orderkey"), col("o_custkey"),
      date_add(col("o_date"), 30).as("o_date"), col("o_totalprice"))
    v1.unionByName(v2)
  }

  private def qLatestWins(s: SparkSession, dir: String): DataFrame =
    Dedup.latestWins(stagedOrders(s, dir),
      keys = Seq("o_orderkey"), maxCols = Seq("o_date"), minCols = Seq("o_totalprice"))

  private val latestWinsSql =
    """SELECT DISTINCT o_orderkey, o_custkey, o_date, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey, o_date, o_totalprice,
      |         max(o_date) OVER (PARTITION BY o_orderkey) AS mx,
      |         min(o_totalprice) OVER (PARTITION BY o_orderkey) AS mn
      |  FROM (
      |    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
      |           o_totalprice + 10 AS o_totalprice FROM orders
      |    UNION ALL
      |    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) + 30 AS o_date,
      |           o_totalprice FROM orders) staged) t
      |WHERE o_date = mx AND o_totalprice = mn""".stripMargin
}
