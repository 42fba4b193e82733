package graft.queries

import graft.sources.Tables
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational substrate R1–R7 (SURVEY §2.7): the Flink DataSet primitives
  * every reference graph operator lowers to (map/filter/join/groupBy-reduce/
  * coGroup/union/distinct/sort-limit), oracle-checked independently of graph
  * semantics over the star schema.
  *
  * Scale notes per query are inline; common themes: filters/projections are
  * Column expressions (pushed to the parquet scan), aggregations are hash
  * agg with partial combine, joins are AQE-planned (broadcast for dimension
  * tables).
  */
object Substrate {

  /** R1 — scan → filter → project. Predicate + column pruning reach the
    * scan (`PushedFilters`, 3-column `ReadSchema`).
    */
  private def r1(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
      // (118k duplicate pairs at sf0.1) — order by the full row so the sort
      // is total; identical rows are then interchangeable (found by the sf1
      // scale run: engine tie orders diverge once the file splits).
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val r1Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin

  /** R2 — multi-way equi-join (customer ⋈ orders ⋈ lineitem) + agg.
    * Dimension side (filtered customers) broadcasts; fact-side join is
    * shuffle on orderkey at scale.
    */
  private def r2(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(Tables(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(
        Det.sumDec(Det.discPrice(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderkey"))

  private val r2Sql =
    s"""SELECT o_orderkey,
       |  ${Det.sumDecSql(Det.discPriceSql)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** R3 — TPC-H Q1-shaped group-aggregate: hash agg, partial+final, tiny
    * result. All double sums via exact decimal accumulation.
    */
  private def r3(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.decSum(col("l_quantity")).as("sum_qty"),
        Det.decSum(col("l_extendedprice")).as("sum_base_price"),
        Det.sumDec(Det.discPrice(col("l_extendedprice"), col("l_discount")))
          .as("sum_disc_price"),
        (Det.decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val r3Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.decSumSql("l_quantity")} AS sum_qty,
       |  ${Det.decSumSql("l_extendedprice")} AS sum_base_price,
       |  ${Det.sumDecSql(Det.discPriceSql)} AS sum_disc_price,
       |  ${Det.decSumSql("l_quantity")} / COUNT(*) AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** R4 — coGroup-shaped full-outer join: customers vs per-customer order
    * aggregates, zero-filled (the reference uses coGroup for exactly this
    * zero-handling in outDegrees).
    */
  private def r4(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        Det.decSum(col("o_totalprice")).as("total_spent"))
    Tables(s, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("id"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_spent"), lit(0.0)).as("total_spent"),
        col("c_custkey").isNotNull.cast("int").as("known_customer"))
      .orderBy(col("id"))
  }

  private val r4Sql =
    s"""SELECT COALESCE(c_custkey, o_custkey) AS id,
       |  COALESCE(n_orders, 0) AS n_orders,
       |  COALESCE(total_spent, 0.0) AS total_spent,
       |  CAST(c_custkey IS NOT NULL AS INT) AS known_customer
       |FROM (SELECT c_custkey FROM customer) c
       |FULL OUTER JOIN (
       |  SELECT o_custkey, COUNT(*) AS n_orders,
       |         ${Det.decSumSql("o_totalprice")} AS total_spent
       |  FROM orders GROUP BY o_custkey) o
       |ON c_custkey = o_custkey
       |ORDER BY id""".stripMargin

  /** R5 — union / distinct / intersect / except as one summary row. */
  private def r5(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders").select(col("o_custkey").as("id"))
      .distinct()
    val b = Tables(s, dir, "customer")
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("id"))
    a.union(b).distinct().agg(count(lit(1)).as("n_union"))
      .crossJoin(a.intersect(b).agg(count(lit(1)).as("n_intersect")))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_except")))
  }

  private val r5Sql =
    """WITH a AS (SELECT DISTINCT o_custkey AS id FROM orders),
      |b AS (SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000)
      |SELECT
      |  (SELECT COUNT(*) FROM (SELECT id FROM a UNION SELECT id FROM b)) AS n_union,
      |  (SELECT COUNT(*) FROM (SELECT id FROM a INTERSECT SELECT id FROM b)) AS n_intersect,
      |  (SELECT COUNT(*) FROM (SELECT id FROM a EXCEPT SELECT id FROM b)) AS n_except""".stripMargin

  /** R6 — global top-k (sort + limit): top 10 suppliers by revenue,
    * deterministic tie-break on s_suppkey. TakeOrdered at scale — no full
    * global sort materialization.
    */
  private def r6(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").groupBy(col("l_suppkey"))
      .agg(Det.sumDec(Det.discPrice(col("l_extendedprice"), col("l_discount")))
        .as("revenue"))
      .join(Tables(s, dir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("s_suppkey"))
      .limit(10)

  private val r6Sql =
    s"""SELECT s_suppkey, s_name, revenue FROM (
       |  SELECT l_suppkey,
       |    ${Det.sumDecSql(Det.discPriceSql)} AS revenue
       |  FROM lineitem GROUP BY l_suppkey) r
       |JOIN supplier ON s_suppkey = l_suppkey
       |ORDER BY revenue DESC, s_suppkey LIMIT 10""".stripMargin

  /** R7 — window rank: latest 3 orders per customer (row_number over
    * partitioned sort; single shuffle on the partition key).
    */
  private def r7(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  private val r7Sql =
    """SELECT o_custkey, rk, o_orderkey, order_epoch FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
      |  FROM orders) t
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** R9 — ROLLUP / grouping-sets aggregate: the (returnflag, linestatus)
    * detail, per-returnflag subtotals, and the grand total in ONE pass
    * (Spark plans an Expand + single shuffled hash agg with map-side
    * partial combine — not three scans). Rollup NULLs are folded to an
    * 'ALL' marker plus an explicit grouping-level id computed as
    * `grouping(flag)·2 + grouping(status)` on BOTH engines (conventions
    * for grouping_id bit order differ; the explicit formula pins it).
    */
  private def r9(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Det.decSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2 +
          grouping(col("l_linestatus"))).cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  private val r9Sql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
       |       AS BIGINT) AS gid,
       |  ${Det.decSumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** R12 — full CUBE lattice over (returnflag, linestatus) — R9 rollup's
    * OLAP sibling: every grouping-set combination including the
    * (ALL, linestatus) slices a rollup omits, disambiguated by the same
    * grouping-id; the one-pass multi-granularity dashboard aggregate
    * (Spark expands the lattice with a single Expand operator over one
    * scan — partial-combined per grouping set, no per-level rescans).
    */
  private def r12(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(Det.decSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2 +
          grouping(col("l_linestatus"))).cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  private val r12Sql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
       |       AS BIGINT) AS gid,
       |  ${Det.decSumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** R13 — LEFT SEMI join (decorrelated EXISTS): customers holding at
    * least one urgent order. Semi-join is its own physical operator —
    * unlike an inner join + distinct it never duplicates the probe side
    * (a customer with 40 urgent orders emits one row and the build side
    * can stop at first match), so the shuffle volume is |customer|, not
    * |orders|. At 100 TB the filtered build side stays broadcastable
    * long after the raw fact table isn't; when it grows past that, AQE
    * plans a shuffled hash semi-join keyed on custkey. The EXISTS twin
    * pins the no-duplication semantics: an inner-join regression would
    * multiply rows and fail the row count before the hash.
    */
  private def r13(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private val r13Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** R14 — LEFT ANTI join (decorrelated NOT EXISTS): customers with NO
    * urgent order — R13's exact complement (the pair partitions
    * |customer|, which the oracle checks implicitly: both keys run over
    * the same tables, so r13.rows + r14.rows = |customer| at every
    * scale). Same physical story as R13 — the probe side streams, the
    * build side is the filtered broadcastable dim; NOT-EXISTS-style
    * null-trap semantics don't arise here because the join key is a
    * non-null primary key on both sides.
    */
  private def r14(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private val r14Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** R10 — star join with a broadcast dimension (TPC-H Q5 shape):
    * revenue per (region, nation) through region ⋈ nation ⋈ customer ⋈
    * orders ⋈ lineitem. The composite dimension (nation ⋈ region,
    * 25 rows) is EXPLICITLY broadcast, so the fact chain shuffles only
    * on its own join keys and every dim lookup rides map-side — the
    * canonical warehouse plan at any scale: dims stay cluster-small
    * while facts grow, so the shape survives 100 TB unchanged
    * (PlanSpec asserts the dim side arrives as a BroadcastHashJoin).
    * The aggregate keys on the 25-value (r_name, n_name) pair, so
    * partial combine collapses each task's rows to ≤ 25 partials
    * before the final exchange.
    */
  private def r10(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables(s, dir, "nation")
      .join(Tables(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    Tables(s, dir, "customer")
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Det.sumDec(Det.discPrice(col("l_extendedprice"), col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val r10Sql =
    s"""SELECT r_name, n_name,
       |  ${Det.sumDecSql(Det.discPriceSql)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM region JOIN nation ON r_regionkey = n_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** R11 — pivot (wide reshape): per-user event counts and exact value
    * sums, one column pair per event type. The `RelationalGroupedDataset
    * .pivot` operator with a PINNED value list — never the values-discovery
    * overload, which runs an extra distinct job and (at 100 TB) would make
    * the output schema data-dependent; with pinned values the whole reshape
    * is ONE hash aggregation over `user_id` (each task partial-combines to
    * one wide row per user — the per-type conditional aggregates ride the
    * same exchange, there is no per-type join or union).
    *
    * Pivot's empty cells are NULL for both count and sum; counts are
    * coalesced to 0 to match SQL's `COUNT(*) FILTER`, while empty sums stay
    * NULL on both engines.
    */
  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  private def r11(s: SparkSession, dir: String): DataFrame =
    pivotOf(Tables(s, dir, "events"))

  /** Unit-test seam: the pivot reshape over an explicit
    * `(user_id, event_type, value)` frame.
    */
  private[graft] def pivotOf(events: DataFrame): DataFrame = {
    val wide = events
      .groupBy(col("user_id"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)).as("n"), Det.decSum(col("value")).as("val"))
    wide.select(col("user_id") +:
        PivotTypes.flatMap(t => Seq(
          coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
          col(s"${t}_val"))): _*)
      .orderBy(col("user_id"))
  }

  private val r11Sql = {
    val cols = PivotTypes.map { t =>
      s"""  COUNT(*) FILTER (WHERE event_type = '$t') AS ${t}_n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
         |       FILTER (WHERE event_type = '$t') AS DOUBLE) AS ${t}_val"""
        .stripMargin
    }.mkString(",\n")
    s"""SELECT user_id,
       |$cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** R15 — UNPIVOT (melt): the inverse reshape of R11 — the wide
    * per-user count matrix back to long (user_id, event_type, n) rows,
    * via the native `Dataset.unpivot` operator (one narrow Expand over
    * the wide frame — no shuffle, no join; the anti-pattern is a UNION
    * of per-column selects, which scans the frame once per column).
    * Zero-count combinations survive the round trip (pivot materialized
    * them as 0) — the oracle pins exactly that by building the
    * user × type grid independently, so pivot→unpivot is proven a
    * lossless round trip at the gate, not just asserted.
    */
  private def r15(s: SparkSession, dir: String): DataFrame =
    unpivotOf(pivotOf(Tables(s, dir, "events")))

  /** Unit-test seam: the melt over an explicit R11-shaped wide frame. */
  private[graft] def unpivotOf(wide: DataFrame): DataFrame =
    wide.unpivot(Array(col("user_id")),
        PivotTypes.map(t => col(s"${t}_n")).toArray,
        "event_type", "n")
      .select(col("user_id"),
        expr("substring(event_type, 1, length(event_type) - 2)")
          .as("event_type"),
        col("n"))
      .orderBy(col("user_id"), col("event_type"))

  private val r15Sql = {
    val grid = PivotTypes.map(t => s"('$t')").mkString(", ")
    s"""SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n
       |FROM (SELECT DISTINCT user_id FROM events) u
       |CROSS JOIN (VALUES $grid) t(event_type)
       |LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS n
       |           FROM events GROUP BY 1, 2) c
       |  ON c.user_id = u.user_id AND c.event_type = t.event_type
       |ORDER BY u.user_id, t.event_type""".stripMargin
  }

  /** R16 salt fan-out. */
  private val SaltS = 8

  /** R16 — SALTED skew join: the manual skew-mitigation technique as an
    * oracle-proven operator. The deliberately pathological shape:
    * lineitem joined to a per-returnflag weight table on a key with
    * THREE distinct values — a shuffle join on the raw key lands the
    * entire fact table on ≤3 reducers (the textbook skew collapse), and
    * the dim side is tiny enough that Spark would broadcast it away,
    * hiding the problem this key exists to demonstrate. So: broadcast is
    * suppressed (`shuffle_hash` hint on the dim side — PlanSpec asserts
    * no BroadcastHashJoin survives), the fact side carries a
    * deterministic salt (`l_orderkey % S`), the dim side is exploded ×S,
    * and the join keys become (flag, salt) — 3·S shuffle keys instead of
    * 3, an S-way fan-out of every hot key. The DuckDB twin runs the
    * PLAIN unsalted join+agg, so the gate proves the salted rewrite is
    * semantics-preserving — the whole point of salting, pinned as an
    * oracle row rather than asserted in a comment.
    *
    * At 100 TB this is the shape AQE's skew split cannot always fix
    * (skew-join splitting only kicks in on sort-merge joins past
    * thresholds, and not under every join strategy); the manual salt is
    * the portable fallback. Weighted sum stays decimal-exact (dec(qty)·w
    * with integer w).
    */
  private def r16(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity"),
        (col("l_orderkey") % SaltS).as("salt"))
    val dim = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("dflag"))
      .agg(count(lit(1)).as("w"))
      .withColumn("dsalt", explode(sequence(lit(0L), lit(SaltS - 1L))))
    li.join(dim.hint("shuffle_hash"),
        col("flag") === col("dflag") && col("salt") === col("dsalt"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(Det.dec(col("l_quantity")) * col("w")).cast("double")
          .as("weighted_qty"))
      .orderBy(col("flag"))
  }

  private val r16Sql =
    """WITH dim AS (
      |  SELECT l_returnflag AS dflag, COUNT(*) AS w
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag AS flag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * w) AS DOUBLE)
      |    AS weighted_qty
      |FROM lineitem JOIN dim ON l_returnflag = dflag
      |GROUP BY 1 ORDER BY flag""".stripMargin

  /** R17 bucket count (matches the test-session shuffle parallelism so
    * bucketed reads line up 1:1 with join tasks).
    */
  private val BucketN = 8

  // One bucketed-table pair per (session, sfDir): orders + lineitem
  // written with bucketBy/sortBy on the order key into a temp warehouse
  // path. ADVICE r9 hardening: the memo makes the expensive build
  // exactly-once per key (no duplicate racing writes), table names carry
  // the per-build temp-dir name as a uniquifier (so two dirs — even
  // hashCode-colliding ones — can never point catalog entries at each
  // other's data), and `Caches.evict` drops the tables and deletes the
  // dir instead of waiting for JVM shutdown.
  private val bucketed =
    graft.util.SessionMemo.onDisk[String, (String, String, String)](_._3,
      { case (s, (to, tl, _)) =>
        scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $to"))
        scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tl")); ()
      })

  private def bucketedTables(s: SparkSession,
                             dir: String): (String, String) = {
    val (to, tl, _) = bucketed(s, dir) {
      val p = graft.util.SessionMemo.tempDir("graft_bucketed")
      val suffix = new java.io.File(p).getName
        .replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      val (to, tl) = (s"graft_bkt_orders_$suffix", s"graft_bkt_li_$suffix")
      Tables(s, dir, "orders")
        .write.bucketBy(BucketN, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$p/orders").mode("overwrite").saveAsTable(to)
      Tables(s, dir, "lineitem")
        .write.bucketBy(BucketN, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$p/lineitem").mode("overwrite").saveAsTable(tl)
      (to, tl, p)
    }
    (to, tl)
  }

  /** R17 — BUCKETED co-located join: the other prompt-level shuffle
    * eliminator next to R16's salting — orders and lineitem are written
    * ONCE as [[BucketN]]-bucket tables on their join key (bucketBy +
    * sortBy: the write pays the shuffle, every subsequent join rides it),
    * and the fact⋈fact join then plans with NO shuffle exchange on
    * either input (PlanSpec walks the join subtree and asserts zero
    * ShuffleExchange below it — the bucketed scans feed the sort-merge
    * join directly). This is the warehouse pattern for a join repeated
    * every day at 100 TB: amortize the exchange into the layout. The
    * oracle runs the plain join+agg on the RAW tables, proving the
    * bucketed copy is the same relation.
    */
  private def r17(s: SparkSession, dir: String): DataFrame = {
    val (to, tl) = bucketedTables(s, dir)
    // merge hint: at gate scale the optimizer would broadcast the tiny
    // orders side, silently wasting the layout this key demonstrates; at
    // 100 TB neither fact side broadcasts and sort-merge IS the plan —
    // the hint pins that strategy so the exchange-free property is
    // testable here.
    s.table(to).hint("merge").join(s.table(tl),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        Det.sumDec(Det.discPrice(col("l_extendedprice"),
          col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  private val r17Sql =
    s"""SELECT o_orderstatus, COUNT(*) AS n_items,
       |  ${Det.sumDecSql(Det.discPriceSql)} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** R18 — substrate_profile: the TABLE-PROFILING audit every ingestion
    * pipeline runs before trusting a new drop — per-column null count,
    * exact distinct count, and min/max, over `orders`, one row per column.
    * Heterogeneous column types are made comparable through a CANONICAL
    * BIGINT rendering (the cross-engine-exact choice: no double/decimal
    * string formatting, no timezone strings): key columns as-is, doubles
    * as `floor(x·100 + 0.5)` cents (monotone, so cents∘min ≡ min∘cents),
    * timestamps as `unix_micros` (house epoch idiom), strings as
    * [[graft.functions.TextFns.stringHash]] of the lexicographic min/max
    * (ASCII corpus → Spark and DuckDB binary collation agree; the hash is
    * applied AFTER the agg, to the winning string).
    *
    * Scale: ONE pass over the table — a single global aggregation with
    * map-side partial combine, then a 6-row explode; no joins, no windows.
    * The exact `countDistinct` ×6 plans through Spark's expand (×7 scan
    * rows) — the declared 100 TB form swaps each for `approx_count_distinct`
    * (HLL, the X6 `distinct_users_hll` contract pattern) and drops the
    * expand; exact is kept here because the oracle can then value-compare
    * every cell with zero sketch bands.
    */
  private def r18(s: SparkSession, dir: String): DataFrame =
    profileOf(Tables(s, dir, "orders"))

  private[graft] def profileOf(orders: DataFrame): DataFrame = {
    import graft.functions.TextFns
    def nn(c: String) = sum(col(c).isNull.cast("long")).as(s"nn_$c")
    def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
    val a = orders.agg(
      count(lit(1)).as("n_rows"),
      nn("o_orderkey"), nd("o_orderkey"),
      min(col("o_orderkey")).as("mn_o_orderkey"),
      max(col("o_orderkey")).as("mx_o_orderkey"),
      nn("o_custkey"), nd("o_custkey"),
      min(col("o_custkey")).as("mn_o_custkey"),
      max(col("o_custkey")).as("mx_o_custkey"),
      nn("o_orderstatus"), nd("o_orderstatus"),
      TextFns.stringHash(min(col("o_orderstatus"))).as("mn_o_orderstatus"),
      TextFns.stringHash(max(col("o_orderstatus"))).as("mx_o_orderstatus"),
      nn("o_totalprice"), nd("o_totalprice"),
      floor(min(col("o_totalprice")) * 100 + 0.5).cast("long")
        .as("mn_o_totalprice"),
      floor(max(col("o_totalprice")) * 100 + 0.5).cast("long")
        .as("mx_o_totalprice"),
      nn("o_orderdate"), nd("o_orderdate"),
      // o_orderdate ships as TIMESTAMP_NTZ: cast through the UTC-pinned
      // session TimestampType (the Tables.normalizeEventsTs convention)
      // before taking the epoch.
      unix_micros(min(col("o_orderdate")).cast("timestamp"))
        .as("mn_o_orderdate"),
      unix_micros(max(col("o_orderdate")).cast("timestamp"))
        .as("mx_o_orderdate"),
      nn("o_orderpriority"), nd("o_orderpriority"),
      TextFns.stringHash(min(col("o_orderpriority")))
        .as("mn_o_orderpriority"),
      TextFns.stringHash(max(col("o_orderpriority")))
        .as("mx_o_orderpriority"))
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    a.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          col(s"nn_$c").as("n_null"), col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_c"), col(s"mx_$c").as("max_c"))): _*))
        .as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  private val r18Sql = {
    import graft.functions.TextFns
    def row(c: String, mn: String, mx: String) =
      s"""SELECT '$c' AS col_name, n_rows,
         |  CAST(nn_$c AS BIGINT) AS n_null,
         |  CAST(nd_$c AS BIGINT) AS n_distinct,
         |  $mn AS min_c, $mx AS max_c FROM a""".stripMargin
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |    SUM(CAST(o_orderkey IS NULL AS INT)) AS nn_o_orderkey,
       |    COUNT(DISTINCT o_orderkey) AS nd_o_orderkey,
       |    MIN(o_orderkey) AS mn_o_orderkey,
       |    MAX(o_orderkey) AS mx_o_orderkey,
       |    SUM(CAST(o_custkey IS NULL AS INT)) AS nn_o_custkey,
       |    COUNT(DISTINCT o_custkey) AS nd_o_custkey,
       |    MIN(o_custkey) AS mn_o_custkey,
       |    MAX(o_custkey) AS mx_o_custkey,
       |    SUM(CAST(o_orderstatus IS NULL AS INT)) AS nn_o_orderstatus,
       |    COUNT(DISTINCT o_orderstatus) AS nd_o_orderstatus,
       |    MIN(o_orderstatus) AS mns, MAX(o_orderstatus) AS mxs,
       |    SUM(CAST(o_totalprice IS NULL AS INT)) AS nn_o_totalprice,
       |    COUNT(DISTINCT o_totalprice) AS nd_o_totalprice,
       |    CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT)
       |      AS mn_o_totalprice,
       |    CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT)
       |      AS mx_o_totalprice,
       |    SUM(CAST(o_orderdate IS NULL AS INT)) AS nn_o_orderdate,
       |    COUNT(DISTINCT o_orderdate) AS nd_o_orderdate,
       |    epoch_us(MIN(o_orderdate)) AS mn_o_orderdate,
       |    epoch_us(MAX(o_orderdate)) AS mx_o_orderdate,
       |    SUM(CAST(o_orderpriority IS NULL AS INT)) AS nn_o_orderpriority,
       |    COUNT(DISTINCT o_orderpriority) AS nd_o_orderpriority,
       |    MIN(o_orderpriority) AS mnp, MAX(o_orderpriority) AS mxp
       |  FROM orders)
       |SELECT * FROM (
       |${row("o_orderkey", "mn_o_orderkey", "mx_o_orderkey")}
       |UNION ALL
       |${row("o_custkey", "mn_o_custkey", "mx_o_custkey")}
       |UNION ALL
       |${row("o_orderstatus",
            TextFns.stringHashSql("mns").replace("\n", " "),
            TextFns.stringHashSql("mxs").replace("\n", " "))}
       |UNION ALL
       |${row("o_totalprice", "mn_o_totalprice", "mx_o_totalprice")}
       |UNION ALL
       |${row("o_orderdate", "mn_o_orderdate", "mx_o_orderdate")}
       |UNION ALL
       |${row("o_orderpriority",
            TextFns.stringHashSql("mnp").replace("\n", " "),
            TextFns.stringHashSql("mxp").replace("\n", " "))})
       |ORDER BY col_name""".stripMargin
  }

  /** R19 — substrate_merge_upsert: MERGE INTO (CDC upsert) semantics —
    * the daily Delta/Iceberg-shaped operation of applying a change feed
    * (updates / deletes / inserts) to a base table — decomposed into the
    * three relational primitives an engine without a MERGE operator uses:
    * `base ANTI-JOIN deletes`, `LEFT-JOIN updates + coalesce override`,
    * `UNION ALL inserts`. Emits the merged table with each row tagged
    * K(ept)/U(pdated)/I(nserted); deletes are visible as the dropped keys.
    *
    * The change feed derives deterministically from the base scan (salted
    * hash mod 5 stripes orderkeys into update/delete/insert-source/
    * untouched×2, ~20 % each — measured before landing): in production it
    * arrives as a separate CDC table, and nothing in the merge below
    * depends on the derivation. Prices ride the exact cents grid, so the
    * update override (+100) and insert payload (+50) value-compare with
    * no FP dust.
    *
    * Scale: both the anti-join and the update-join key on o_orderkey —
    * at 100 TB they shuffle ONCE on the same key (AQE reuses the
    * exchange; with a bucketed base layout — R17 — the merge rides the
    * layout with no shuffle at all, which is exactly how lakehouse MERGE
    * schedules). No windows, no driver loops; the inserts union is
    * append-only.
    */
  private def r19(s: SparkSession, dir: String): DataFrame =
    mergeUpsertOf(Tables(s, dir, "orders"))

  private[graft] def mergeUpsertOf(orders: DataFrame): DataFrame = {
    import graft.functions.TextFns
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      (TextFns.stringHash(
        concat(lit("cdc:"), col("o_orderkey").cast("string"))) % 5)
        .as("m"))
    val upd = base.where(col("m") === 0)
      .select(col("o_orderkey").as("k"),
        (col("cents") + 100).as("new_cents"))
    val del = base.where(col("m") === 1).select(col("o_orderkey").as("k"))
    // insert keys = NEGATED base keys: disjoint from the (positive)
    // kept keys at ANY scale factor (ADVICE r10 — a fixed +1e9 offset
    // collides once o_orderkey exceeds 1e9, around sf≈170)
    val ins = base.where(col("m") === 2)
      .select((-col("o_orderkey")).as("o_orderkey"),
        col("o_custkey"), (col("cents") + 50).as("cents"),
        lit("I").as("op"))
    base.select(col("o_orderkey"), col("o_custkey"), col("cents"))
      .join(del, col("o_orderkey") === del("k"), "left_anti")
      .join(upd, col("o_orderkey") === upd("k"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("new_cents"), col("cents")).as("cents"),
        when(col("new_cents").isNotNull, "U").otherwise("K").as("op"))
      .unionByName(ins)
      .orderBy(col("o_orderkey"))
  }

  private val r19Sql = {
    val h = graft.functions.TextFns.stringHashSql(
      "concat('cdc:', CAST(o_orderkey AS VARCHAR))").replace("\n", " ")
    s"""WITH mbase AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       |    $h % 5 AS m
       |  FROM orders),
       |mupd AS (SELECT o_orderkey AS k, cents + 100 AS new_cents
       |         FROM mbase WHERE m = 0),
       |mdel AS (SELECT o_orderkey AS k FROM mbase WHERE m = 1),
       |mins AS (SELECT -o_orderkey AS o_orderkey, o_custkey,
       |           cents + 50 AS cents, 'I' AS op FROM mbase WHERE m = 2),
       |mkept AS (
       |  SELECT b.o_orderkey, b.o_custkey,
       |    COALESCE(u.new_cents, b.cents) AS cents,
       |    CASE WHEN u.k IS NOT NULL THEN 'U' ELSE 'K' END AS op
       |  FROM mbase b LEFT JOIN mupd u ON u.k = b.o_orderkey
       |  WHERE NOT EXISTS (SELECT 1 FROM mdel d WHERE d.k = b.o_orderkey))
       |SELECT * FROM (SELECT * FROM mkept UNION ALL SELECT * FROM mins)
       |ORDER BY o_orderkey""".stripMargin
  }

  /** R20 — substrate_window_frames: window-FRAME aggregates — the sliding
    * `ROWS BETWEEN` surface R7's rank window doesn't touch: per customer,
    * orders in (date, orderkey) order carry a running total
    * (UNBOUNDED PRECEDING..CURRENT), a 3-row moving sum + its width
    * (2 PRECEDING..CURRENT — the width column shows the ragged frame at
    * each partition head), and `lag(1)` (NULL at the head). All on the
    * exact cents grid — every frame aggregate is an integer sum, so the
    * whole surface value-compares with no FP dust, and the
    * (date, orderkey) sort is total within each partition (no tie
    * ambiguity across engines).
    *
    * Scale: ONE shuffle on the partition key, then per-partition
    * streaming frame evaluation — the frame-spec window is the
    * scale-correct form of "running feature per entity" (contrast the
    * global-rank windows, which X111/X112 convert to sketches at 100 TB;
    * a per-entity frame needs no such conversion).
    */
  private def r20(s: SparkSession, dir: String): DataFrame =
    windowFramesOf(Tables(s, dir, "orders"))

  private[graft] def windowFramesOf(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    base.select(col("o_orderkey"), col("o_custkey"), col("cents"),
      sum(col("cents"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("running_cents"),
      sum(col("cents")).over(w.rowsBetween(-2, 0)).as("ma3_cents"),
      count(lit(1)).over(w.rowsBetween(-2, 0)).as("ma3_n"),
      lag(col("cents"), 1).over(w).as("prev_cents"))
      .orderBy(col("o_orderkey"))
  }

  private val r20Sql =
    """WITH wb AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    o_orderdate
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, cents,
      |  CAST(SUM(cents) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS running_cents,
      |  CAST(SUM(cents) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS ma3_cents,
      |  COUNT(*) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3_n,
      |  lag(cents, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS prev_cents
      |FROM wb ORDER BY o_orderkey""".stripMargin

  /** X140 — substrate_skyline: PER-GROUP PARETO FRONTIER (skyline) —
    * the multi-objective shortlist operator (cheapest-for-each-quality
    * frontier; "no other part of this brand is both cheaper and
    * larger"): per brand, the parts not DOMINATED on
    * (minimize retail price, maximize size), dominance = (≤ price,
    * ≥ size, one strict). The 2-D skyline collapses to two windows on
    * ONE (brand) exchange: a row survives iff its size exceeds the
    * running MAX size over STRICTLY cheaper rows (RANGE … 1 PRECEDING
    * on the exact cents axis — the range frame is what makes "strictly
    * cheaper" exact under price ties) AND it carries the max size
    * within its own price tie-group (an equal-price smaller part IS
    * dominated; equal-price equal-size parts are all kept — no strict
    * coordinate). Exact integers (cents grid, integer sizes), zero FP.
    * Frontier sizes measured before landing: 65/97/1 050 rows over 25
    * brands at sf0.001/0.01/sf1 — real multi-point frontiers, not one
    * winner per brand.
    *
    * Scale: one map-side projection + two windows + the final filter,
    * all on the single brand-keyed exchange — the canonical keyed-
    * skyline shape (a global skyline at 100 TB runs this per category
    * then merges the tiny frontiers).
    */
  private def substrateSkyline(s: SparkSession, dir: String): DataFrame =
    skylineOf(Tables(s, dir, "part"))

  /** Testable seam for [[substrateSkyline]]: explicit part frame. */
  private[graft] def skylineOf(part: DataFrame): DataFrame = {
    val p = part.select(col("p_partkey"), col("p_brand"),
      expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)")
        .as("price_cents"),
      col("p_size").cast("long").as("size"))
    val wLower = Window.partitionBy(col("p_brand"))
      .orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy(col("p_brand"), col("price_cents"))
    p.withColumn("lower_max", max(col("size")).over(wLower))
      .withColumn("tie_max", max(col("size")).over(wTie))
      .filter((col("lower_max").isNull ||
        col("size") > col("lower_max")) &&
        col("size") === col("tie_max"))
      .select(col("p_brand"), col("price_cents"), col("size"),
        col("p_partkey"))
      .orderBy(col("p_brand"), col("price_cents"), col("p_partkey"))
  }

  private val substrateSkylineSql =
    s"""WITH skp AS (
       |  SELECT p_partkey, p_brand,
       |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
       |      AS price_cents,
       |    CAST(p_size AS BIGINT) AS size
       |  FROM part),
       |skw AS (
       |  SELECT *,
       |    MAX(size) OVER (PARTITION BY p_brand ORDER BY price_cents
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS lower_max,
       |    MAX(size) OVER (PARTITION BY p_brand, price_cents) AS tie_max
       |  FROM skp)
       |SELECT p_brand, price_cents, size, p_partkey
       |FROM skw
       |WHERE (lower_max IS NULL OR size > lower_max) AND size = tie_max
       |ORDER BY p_brand, price_cents, p_partkey""".stripMargin

  /** X161 — substrate_zorder_cluster: Z-ORDER (Morton) clustering audit
    * — the multi-dimensional data-skipping layout technique (Delta
    * OPTIMIZE ZORDER / Iceberg sort orders): interleave the bits of two
    * query dimensions (customer bucket, order-day bucket, both mod 256)
    * into a 16-bit Morton code, then report per coarse z-range the row
    * count and BOTH dimensions' min/max. The numbers ARE the skipping
    * story: every 1/16th z-range bounds each dimension to a 64-wide
    * span out of 256 (measured — c_span = d_span = 63 in every bucket),
    * so files written in z-order answer a selective predicate on EITHER
    * dimension by reading ~1/4 of the ranges, which a single-column
    * sort only achieves for its leading column. At 100 TB this
    * expression IS the clustering key the writer sorts by; the audit
    * table is what a layout optimizer inspects to confirm the skip
    * spans. Pure integer bit arithmetic — the 16-term interleave is the
    * same literal expression in both engines; no FP, no windows, one
    * map-side projection + a 16-group combinable agg.
    */
  private def substrateZorder(s: SparkSession, dir: String): DataFrame =
    zorderOf(Tables(s, dir, "orders"))

  /** Testable seam for [[substrateZorder]]: explicit orders frame. */
  private[graft] def zorderOf(orders: DataFrame): DataFrame = {
    val interleave = (0 until 8).map { i =>
      s"(((c >> $i) & 1) << ${2 * i}) + (((d >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    orders.select(
      expr("cast(o_custkey % 256 as bigint)").as("c"),
      (datediff(col("o_orderdate"), lit("1970-01-01")) % 256)
        .cast("long").as("d"))
      .withColumn("zv", expr(interleave))
      .groupBy(expr("zv div 4096").as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("c")).as("c_min"), max(col("c")).as("c_max"),
        min(col("d")).as("d_min"), max(col("d")).as("d_max"))
      .select(col("z_bucket"), col("n_rows"), col("c_min"), col("c_max"),
        col("d_min"), col("d_max"),
        (col("c_max") - col("c_min")).as("c_span"),
        (col("d_max") - col("d_min")).as("d_span"))
      .orderBy(col("z_bucket"))
  }

  private val substrateZorderSql = {
    val interleave = (0 until 8).map { i =>
      s"(((c >> $i) & 1) << ${2 * i}) + (((d >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH zo AS (
       |  SELECT CAST(o_custkey % 256 AS BIGINT) AS c,
       |    CAST(datediff('day', DATE '1970-01-01', o_orderdate) % 256
       |      AS BIGINT) AS d
       |  FROM orders),
       |zz AS (SELECT c, d, $interleave AS zv FROM zo)
       |SELECT zv // 4096 AS z_bucket, COUNT(*) AS n_rows,
       |  MIN(c) AS c_min, MAX(c) AS c_max,
       |  MIN(d) AS d_min, MAX(d) AS d_max,
       |  MAX(c) - MIN(c) AS c_span, MAX(d) - MIN(d) AS d_span
       |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("substrate_zorder_cluster", substrateZorder,
      Some(substrateZorderSql)),
    Q("substrate_skyline", substrateSkyline, Some(substrateSkylineSql)),
    Q("substrate_window_frames", r20, Some(r20Sql)),
    Q("substrate_merge_upsert", r19, Some(r19Sql)),
    Q("substrate_profile", r18, Some(r18Sql)),
    Q("substrate_unpivot", r15, Some(r15Sql)),
    Q("substrate_salted_join", r16, Some(r16Sql)),
    Q("substrate_bucketed_join", r17, Some(r17Sql)),
    Q("substrate_scan_filter_project", r1, Some(r1Sql)),
    Q("substrate_hash_join", r2, Some(r2Sql)),
    Q("substrate_group_agg", r3, Some(r3Sql)),
    Q("substrate_cogroup", r4, Some(r4Sql)),
    Q("substrate_union_distinct", r5, Some(r5Sql)),
    Q("substrate_sort_limit_topk", r6, Some(r6Sql)),
    Q("substrate_window_rank", r7, Some(r7Sql)),
    Q("substrate_rollup", r9, Some(r9Sql)),
    Q("substrate_cube", r12, Some(r12Sql)),
    Q("substrate_semi_join", r13, Some(r13Sql)),
    Q("substrate_anti_join", r14, Some(r14Sql)),
    Q("substrate_star_join", r10, Some(r10Sql)),
    Q("substrate_pivot", r11, Some(r11Sql)),
  )
}
