package graft.queries

import graft.sources.{GTrade, Tables}
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.pinned

/** One-mode network analytics over the bipartite G_trade graph: the
  * supplier CO-PURCHASE projection (suppliers linked by how many customers
  * they share) and the classic graph-similarity measures computed on it —
  * per-pair neighbor-set Jaccard (the reference family's Jaccard
  * similarity example, re-pointed at the projection because a bipartite
  * graph's adjacent vertices have disjoint neighborhoods) and per-vertex
  * triangle participation.
  *
  * Scale shape: the projection is the one hazard. Pairing suppliers
  * through their shared customer is O(fan²) per customer — a hub customer
  * (boilerplate shingles' twin in graph form) blows up the pair join
  * exactly like an uncapped LSH bucket. [[MaxCustFan]] caps it: customers
  * with more than that many suppliers are dropped from the PROJECTION
  * (not the graph), bounding per-customer work at a constant, the same
  * df-cap pattern as [[DedupQueries.MaxShingleDf]]. One shuffle for the
  * self-join (co-keyed on the customer), one hash agg with map-side
  * combine for the pair counts; the projection is persisted and shared by
  * both keys ([[warmCopurchase]] → bench `_build:copurchase`).
  */
object NetworkQueries {
  /** Projection fan cap: a customer with more suppliers than this
    * contributes no co-purchase pairs (hub exclusion — at TPC-H shapes the
    * per-customer supplier fan is ~30, so the cap only engages on
    * pathological skew).
    */
  final val MaxCustFan = 1000

  /** Partners kept per supplier in the sparsified top-k graph that
    * [[triangleCount]] runs on (strongest by shared-customer count).
    */
  final val TopK = 5

  /** Quantization scale for the Adamic–Adar 1/ln(fan) weight: each shared
    * customer's weight is snapped to `floor(AaScale/ln(fan) + 0.5)` as a
    * BIGINT *before* the per-pair sum, so the aggregate is an exact integer
    * sum (order-independent, bit-identical cross-engine) — the same
    * quantize-then-sum discipline as `text_unigram_nll`'s per-token NLL.
    */
  final val AaScale = 1000000L

  private val pairCache = graft.util.SessionMemo.persisted[String]()

  /** The persisted co-purchase pair frame (s1 < s2, n_shared) — built once
    * per (session, sfDir), shared by `graph_jaccard` and `triangle_count`.
    */
  private[graft] def coPairs(s: SparkSession, dir: String): DataFrame =
    pairCache(s, dir) {
      val df = coPairsOf(GTrade(s, dir).edges).persist()
      df.count()
      df
    }

  /** Testable seam: the projection from an explicit (src, dst, …) edge
    * frame. Pure function of the edge SET. Output: `(s1, s2, n_shared,
    * aa_q)` — the pair's shared-customer count plus its [[AaScale]]-scaled
    * Adamic–Adar sum Σ 1/ln(fan(c)) over the shared customers, both riding
    * the SAME pair shuffle (the weight is one extra long per row; no
    * second projection pass for `graph_adamic_adar`).
    *
    * The fan gate is an inner join carrying `fan` (was LEFT SEMI) so the
    * weight can be computed map-side after it; fan = 1 customers
    * contribute no pairs (no l.dst < r.dst partner), so their undefined
    * 1/ln(1) weight is pinned to 0 rather than ever evaluated.
    */
  private[graft] def coPairsOf(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val fanOk = e.groupBy(col("src")).agg(count(lit(1)).as("fan"))
      .filter(col("fan") <= MaxCustFan)
    val capped = e.join(fanOk, Seq("src"))
      .withColumn("wq", when(col("fan") >= 2,
        floor(lit(AaScale.toDouble) / log(col("fan").cast("double")) + 0.5)
          .cast("long")).otherwise(0L))
    capped.as("l")
      .join(capped.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .groupBy(col("l.dst").as("s1"), col("r.dst").as("s2"))
      .agg(count(lit(1)).as("n_shared"), sum(col("l.wq")).as("aa_q"))
  }

  /** Shared SQL CTEs mirroring [[coPairsOf]] (appended to
    * [[GTrade.SqlPrefix]]).
    */
  private val coPairsCte =
    s"""fanok AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS fan FROM edges
       |  GROUP BY src HAVING COUNT(*) <= $MaxCustFan),
       |cap AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CASE WHEN fan >= 2 THEN CAST(FLOOR(
       |      $AaScale.0 / ln(CAST(fan AS DOUBLE)) + 0.5) AS BIGINT)
       |    ELSE 0 END AS wq
       |  FROM edges e JOIN fanok USING (src)),
       |cop AS MATERIALIZED (
       |  SELECT l.dst AS s1, r.dst AS s2, COUNT(*) AS n_shared,
       |    CAST(SUM(l.wq) AS BIGINT) AS aa_q
       |  FROM cap l JOIN cap r ON l.src = r.src AND l.dst < r.dst
       |  GROUP BY 1, 2)""".stripMargin

  /** graph_jaccard — neighbor-set Jaccard for every co-purchasing supplier
    * pair: |customers(s1) ∩ customers(s2)| / |customers(s1) ∪
    * customers(s2)| = n_shared / (deg(s1) + deg(s2) - n_shared). Reference
    * parity: the Jaccard-similarity library example (per-edge
    * neighborhood overlap); on a bipartite graph adjacent vertices have
    * disjoint neighborhoods, so the meaningful formulation is over the
    * one-mode projection's pairs. Quantized ([[Det.qround]]) before the
    * ORDER BY so libm ulps can't flip the comparison.
    *
    * Scale: degrees are one hash agg over the edge set; the join of pairs
    * against the 2-column degree frame is broadcast-able (|suppliers| ≪
    * |pairs|). No new shuffle beyond the shared projection.
    */
  private def graphJaccard(s: SparkSession, dir: String): DataFrame = {
    val deg = GTrade(s, dir).edges
      .groupBy(col("dst").as("id")).agg(count(lit(1)).as("deg"))
    coPairs(s, dir)
      .join(broadcast(deg.select(col("id").as("s1"), col("deg").as("d1"))),
        Seq("s1"))
      .join(broadcast(deg.select(col("id").as("s2"), col("deg").as("d2"))),
        Seq("s2"))
      .select(col("s1"), col("s2"), col("n_shared"),
        Det.qround(col("n_shared").cast("double") /
          (col("d1") + col("d2") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  private val graphJaccardSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte,
       |deg AS MATERIALIZED (
       |  SELECT dst AS id, COUNT(*) AS deg FROM edges GROUP BY dst)
       |SELECT s1, s2, n_shared,
       |  ${Det.qroundSql(
             "CAST(n_shared AS DOUBLE) / (d1.deg + d2.deg - n_shared)", 6)}
       |    AS jaccard
       |FROM cop JOIN deg d1 ON d1.id = s1 JOIN deg d2 ON d2.id = s2
       |ORDER BY s1, s2""".stripMargin

  /** X195 butterfly leaderboard size. */
  private val BfTopK = 20

  /** X195 — graph_butterflies: BUTTERFLY (bipartite 4-cycle) counting
    * on the customer×supplier graph — THE bipartite cohesion metric
    * (Wang-Fu-Cheng lineage; the bipartite analogue of the triangle):
    * a butterfly is two customers sharing two suppliers, i.e. every
    * pair of suppliers with w shared customers closes C(w, 2)
    * butterflies. Per supplier: Σ over its co-purchase partners of
    * C(n_shared, 2) (butterfly participation), the partner count, and
    * the wedge count (Σ n_shared — the caterpillar total the butterfly
    * density is normalized by); global totals ride every row; top-20
    * by (butterflies DESC, suppkey).
    *
    * Scale — the reason this formulation is the 100 TB one: butterflies
    * are COUNTED FROM WEDGES, never enumerated as 4-cycles. The wedge
    * frame (per supplier pair: shared-customer count) is exactly the
    * persisted `_build:copurchase` projection this family already
    * shares, so the key adds ZERO new shuffles — one map over the pair
    * frame (C(w,2) is per-row arithmetic), one union-regroup keyed on
    * supplier, a 1-row totals scalar (allowlisted), and a TakeOrdered
    * top-k. The hub cap ([[MaxCustFan]]) is the family's declared skew
    * discipline and does not engage at TPC-H fan shapes.
    */
  private def graphButterflies(s: SparkSession, dir: String): DataFrame =
    butterfliesOf(coPairs(s, dir))

  /** Testable seam for [[graphButterflies]]: explicit (s1, s2,
    * n_shared) pair frame.
    */
  private[graft] def butterfliesOf(pairs: DataFrame): DataFrame = {
    val bfp = pairs.select(col("s1"), col("s2"), col("n_shared"),
      expr("n_shared * (n_shared - 1) div 2").as("bf"))
    val per = bfp.select(col("s1").as("suppkey"), col("bf"),
        col("n_shared"))
      .unionByName(bfp.select(col("s2").as("suppkey"), col("bf"),
        col("n_shared")))
      .groupBy(col("suppkey"))
      .agg(sum(col("bf")).as("butterflies"),
        count(lit(1)).as("n_partners"),
        sum(col("n_shared")).as("n_wedges"))
    val tot = bfp.agg(
      coalesce(sum(col("bf")), lit(0L)).as("total_butterflies"),
      count(lit(1)).as("total_pairs"))
    val top = per.crossJoin(broadcast(tot))
      .orderBy(col("butterflies").desc, col("suppkey")).limit(BfTopK)
    val w = Window.orderBy(col("butterflies").desc, col("suppkey"))
    top.withColumn("bf_rank", row_number().over(w))
      .select(col("bf_rank"), col("suppkey"), col("butterflies"),
        col("n_partners"), col("n_wedges"), col("total_butterflies"),
        col("total_pairs"))
      .orderBy(col("bf_rank"))
  }

  private val graphButterfliesSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte,
       |bfp AS (
       |  SELECT s1, s2, n_shared,
       |    n_shared * (n_shared - 1) // 2 AS bf
       |  FROM cop),
       |bper AS (
       |  SELECT suppkey, CAST(SUM(bf) AS BIGINT) AS butterflies,
       |    COUNT(*) AS n_partners,
       |    CAST(SUM(n_shared) AS BIGINT) AS n_wedges
       |  FROM (SELECT s1 AS suppkey, bf, n_shared FROM bfp
       |        UNION ALL SELECT s2 AS suppkey, bf, n_shared FROM bfp)
       |  GROUP BY 1),
       |btot AS (
       |  SELECT CAST(COALESCE(SUM(bf), 0) AS BIGINT)
       |      AS total_butterflies,
       |    COUNT(*) AS total_pairs FROM bfp)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY butterflies DESC,
       |    suppkey) AS INTEGER) AS bf_rank,
       |  suppkey, butterflies, n_partners, n_wedges,
       |  total_butterflies, total_pairs
       |FROM bper, btot
       |QUALIFY bf_rank <= $BfTopK
       |ORDER BY bf_rank""".stripMargin

  /** triangle_count — per-supplier triangle participation on the top-k
    * partner graph: keep each supplier's [[TopK]] strongest co-purchase
    * partners (by shared-customer count, partner id as the deterministic
    * tie-break), canonicalize to undirected edges, and count the triangles
    * each vertex closes. Suppliers outside any triangle (or any pair)
    * report 0 — the output covers the full supplier vertex set.
    *
    * Scale: the top-k is a per-supplier window (PARTITION BY supplier —
    * never a global sort) that bounds the triangle input at k·|suppliers|
    * edges and every vertex degree at 2k, so the two-step edge join
    * enumerating triangles is O(k²·|suppliers|) with broadcast-able
    * sides — the sparsify-then-enumerate shape a 100 TB co-occurrence
    * graph needs, vs the unbounded join a raw projection would feed. The
    * a<b<c canonical orientation counts each triangle exactly once.
    */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val off = GTrade.offset(s, dir)
    triangleCountFrom(coPairs(s, dir),
      GTrade(s, dir).vertices.filter(col("id") >= off).select(col("id")))
  }

  /** The sparsified undirected partner graph: each supplier's [[TopK]]
    * strongest co-purchase partners, canonicalized to a < b edges.
    */
  private def topKEdges(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("s1").as("s"), col("s2").as("p"), col("n_shared"))
      .unionByName(pairs
        .select(col("s2").as("s"), col("s1").as("p"), col("n_shared")))
    val w = Window.partitionBy(col("s"))
      .orderBy(col("n_shared").desc, col("p"))
    sym
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(least(col("s"), col("p")).as("a"),
        greatest(col("s"), col("p")).as("b"))
      .distinct()
  }

  /** Per-vertex triangle participation counts over an a<b edge frame. */
  private def triCounts(tedges: DataFrame): DataFrame = {
    val tri = tedges.as("e1")
      .join(tedges.as("e2"), col("e2.a") === col("e1.b"))
      .join(tedges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(col("x").as("id"))
      .unionByName(tri.select(col("y").as("id")))
      .unionByName(tri.select(col("z").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Testable seam for [[triangleCount]]: explicit (s1, s2, n_shared)
    * pair frame + vertex-id frame.
    */
  private[graft] def triangleCountFrom(pairs: DataFrame,
                                       vertexIds: DataFrame): DataFrame =
    vertexIds
      .join(triCounts(topKEdges(pairs)), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(col("id"))

  /** Shared SQL CTEs mirroring [[topKEdges]] + [[triCounts]]. */
  private val triCtes =
    s"""sym AS (
       |  SELECT s1 AS s, s2 AS p, n_shared FROM cop
       |  UNION ALL SELECT s2 AS s, s1 AS p, n_shared FROM cop),
       |tedges AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(s, p) AS a, GREATEST(s, p) AS b FROM (
       |    SELECT s, p, ROW_NUMBER() OVER (
       |      PARTITION BY s ORDER BY n_shared DESC, p) AS rk
       |    FROM sym) t WHERE rk <= $TopK),
       |tri AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM tedges e1 JOIN tedges e2 ON e2.a = e1.b
       |  JOIN tedges e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tv AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |       UNION ALL SELECT z FROM tri),
       |cnt AS (SELECT id, COUNT(*) AS n_tri FROM tv GROUP BY id)""".stripMargin

  private val triangleCountSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte, $triCtes
       |SELECT v.id, COALESCE(cnt.n_tri, 0) AS n_tri
       |FROM vertices v LEFT JOIN cnt ON cnt.id = v.id
       |WHERE v.id >= ${GTrade.OffSql}
       |ORDER BY v.id""".stripMargin

  /** X90 — graph_edge_support: per-EDGE triangle counts (edge support)
    * on the same sparsified top-k partner graph [[triangleCount]] runs
    * on — the k-truss SUFFICIENT STATISTIC: a k-truss is the maximal
    * subgraph where every edge has support ≥ k−2, and the iterative
    * peel itself is structurally refused on these fixtures for the same
    * reason as k-core (BASELINE.md: both test graphs collapse in one
    * round), so the support table is the honest computable rung —
    * exactly the X53 sketch-escalation discipline applied to truss
    * decomposition. Each a<b<c triangle contributes one hit to each of
    * its three canonical edges; edges in no triangle report 0.
    *
    * Scale: rides the SAME persisted `_build:copurchase` pair frame and
    * the same ≤TopK-degree sparsified edge set as `triangle_count` — the
    * enumeration join is bounded by the top-k cap (each edge extends to
    * ≤ TopK wedges), so no new pair-explosion hazard is introduced.
    */
  private def graphEdgeSupport(s: SparkSession, dir: String): DataFrame =
    edgeSupportFrom(coPairs(s, dir))

  /** Testable seam for [[graphEdgeSupport]]: explicit pair frame. */
  private[graft] def edgeSupportFrom(pairs: DataFrame): DataFrame = {
    val te = topKEdges(pairs)
    val tri = te.as("e1")
      .join(te.as("e2"), col("e2.a") === col("e1.b"))
      .join(te.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val hits = tri.select(col("x").as("a"), col("y").as("b"))
      .unionByName(tri.select(col("y").as("a"), col("z").as("b")))
      .unionByName(tri.select(col("x").as("a"), col("z").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    te.join(hits, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  private val graphEdgeSupportSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte, $triCtes,
       |eh AS (
       |  SELECT a, b, COUNT(*) AS support FROM (
       |    SELECT x AS a, y AS b FROM tri
       |    UNION ALL SELECT y, z FROM tri
       |    UNION ALL SELECT x, z FROM tri) GROUP BY a, b)
       |SELECT t.a, t.b, COALESCE(eh.support, 0) AS support
       |FROM tedges t LEFT JOIN eh ON eh.a = t.a AND eh.b = t.b
       |ORDER BY t.a, t.b""".stripMargin

  /** clustering_coeff — local clustering coefficient on the same top-k
    * partner graph [[triangleCount]] runs on: for each supplier,
    * `2·tri(v) / (deg(v)·(deg(v)−1))` with deg measured on the sparsified
    * undirected edge set (so the coefficient is exactly the fraction of
    * the vertex's closed wedges in that graph). Vertices with deg < 2
    * report 0.0. Quantized before the ORDER BY.
    *
    * Scale: adds one hash agg (degrees) and two broadcast-able joins to
    * the shared triangle machinery — the top-k sparsification already
    * bounds every degree at 2·[[TopK]], so the wedge denominator is a
    * constant-bounded integer.
    */
  private def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val off = GTrade.offset(s, dir)
    clusteringCoeffFrom(coPairs(s, dir),
      GTrade(s, dir).vertices.filter(col("id") >= off).select(col("id")))
  }

  /** Testable seam for [[clusteringCoeff]]. */
  private[graft] def clusteringCoeffFrom(pairs: DataFrame,
                                         vertexIds: DataFrame): DataFrame = {
    val tedges = topKEdges(pairs)
    val deg = tedges.select(col("a").as("id"))
      .unionByName(tedges.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    vertexIds
      .join(deg, Seq("id"), "left_outer")
      .join(triCounts(tedges), Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .select(col("id"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          Det.qround(lit(2.0) * col("n_tri") /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(0.0).as("coeff"))
      .orderBy(col("id"))
  }

  private val clusteringCoeffSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte, $triCtes,
       |deg AS (
       |  SELECT id, COUNT(*) AS deg FROM (
       |    SELECT a AS id FROM tedges UNION ALL SELECT b FROM tedges) d
       |  GROUP BY id),
       |base AS (
       |  SELECT v.id, COALESCE(deg.deg, 0) AS deg,
       |    COALESCE(cnt.n_tri, 0) AS n_tri
       |  FROM vertices v
       |  LEFT JOIN deg ON deg.id = v.id
       |  LEFT JOIN cnt ON cnt.id = v.id
       |  WHERE v.id >= ${GTrade.OffSql})
       |SELECT id, deg, n_tri,
       |  CASE WHEN deg >= 2 THEN
       |    ${Det.qroundSql("2.0 * n_tri / (deg * (deg - 1))", 6)}
       |  ELSE 0.0 END AS coeff
       |FROM base ORDER BY id""".stripMargin

  /** degree_assortativity — Pearson correlation of endpoint degrees over
    * the symmetrized edge list (Newman's degree assortativity): one row
    * `(m_edges, assortativity)`. Negative on G_trade (high-degree
    * suppliers attach to lower-degree customers — the disassortative
    * bipartite signature).
    *
    * Determinism: every aggregate (`m`, Σx, Σy, Σxy, Σx², Σy²) is an
    * exact BIGINT sum of products of integer degrees — at bench scales
    * all sums < 2⁵³, so the cast to double is exact and the pinned FP
    * epilogue (the covariance/variance ratio written in the same op
    * order on both engines) is bit-identical. At corpus scales where
    * Σxy approaches 2⁵³, switch the accumulators to DECIMAL ([[Det]]
    * pattern) — the shape (two hash aggs + one scalar epilogue) is
    * unchanged.
    *
    * Scale: one map-side-combinable degree agg, one join of the edge
    * list against the (broadcastable) degree table on each endpoint,
    * one global 6-sum agg — no window, no sort, nothing driver-side.
    */
  private def degreeAssortativity(s: SparkSession, dir: String): DataFrame =
    degreeAssortativityOf(
      GTrade(s, dir).undirected.edges.select(col("src"), col("dst")))

  /** [[degreeAssortativity]] over an explicit symmetrized edge frame
    * `(src, dst)` — the testable seam (NetworkSpec checks the P₃ path
    * graph's textbook r = −1).
    */
  private[graft] def degreeAssortativityOf(u: DataFrame): DataFrame = {
    val deg = u.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val xy = u
      .join(deg.select(col("id").as("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("y")), Seq("dst"))
    val sums = xy.agg(
      count(lit(1)).as("m"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val m = col("m").cast("double")
    val mx = col("sx").cast("double") / m
    val my = col("sy").cast("double") / m
    val r = (col("sxy").cast("double") / m - mx * my) /
      (sqrt(col("sxx").cast("double") / m - mx * mx) *
        sqrt(col("syy").cast("double") / m - my * my))
    // A degree-regular graph has zero variance → r = 0/0, undefined.
    // Under ANSI (Spark 4 default) the division THROWS DIVIDE_BY_ZERO —
    // the loud contract for a statistic with no defined value (the DuckDB
    // twin yields NaN on the same input; G_trade is never degree-regular,
    // so the engines only diverge where the Spark side refuses to answer
    // at all). The isnan branch below is therefore NOT the 0/0 guard (ANSI
    // throws before isnan could see it); it covers only the
    // asserted-impossible sqrt-of-negative-variance FP edge, where
    // propagating raw NaN beats qround feeding NaN into a decimal cast.
    sums.select(col("m").as("m_edges"),
      when(isnan(r), r).otherwise(Det.qround(r, 6)).as("assortativity"))
  }

  private val degreeAssortativitySql = {
    val r = """(CAST(sxy AS DOUBLE) / CAST(m AS DOUBLE)
      - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
        * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))
      / (sqrt(CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
          - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
            * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
        * sqrt(CAST(syy AS DOUBLE) / CAST(m AS DOUBLE)
          - CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)
            * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))))"""
      .replaceAll("\\s+", " ")
    s"""${GTrade.SqlPrefixUndirected},
       |deg AS MATERIALIZED (
       |  SELECT src AS id, COUNT(*) AS deg FROM uedges GROUP BY 1),
       |xy AS MATERIALIZED (
       |  SELECT a.deg AS x, b.deg AS y
       |  FROM uedges e JOIN deg a ON e.src = a.id
       |  JOIN deg b ON e.dst = b.id),
       |s AS MATERIALIZED (
       |  SELECT COUNT(*) AS m, SUM(x * y) AS sxy, SUM(x) AS sx,
       |    SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM xy)
       |SELECT m AS m_edges, ${Det.qroundSql(r, 6)} AS assortativity
       |FROM s""".stripMargin
  }

  /** graph_adamic_adar — Adamic–Adar link-prediction score for every
    * co-purchasing supplier pair: AA(s1,s2) = Σ_c 1/ln(fan(c)) over the
    * shared customers c, the classic common-neighbor weighting that
    * discounts promiscuous neighbors (a hub customer says little about
    * supplier affinity; a 2-supplier customer says a lot). The standard
    * similarity sibling of `graph_jaccard` in the Gelly-family library
    * lineage the reference grew into — Jaccard normalizes by union size,
    * Adamic–Adar re-weights each witness by its rarity.
    *
    * Determinism: the per-customer weight is quantized to an [[AaScale]]
    * integer BEFORE summation (see [[AaScale]]), so the per-pair aggregate
    * is an exact integer sum — order-independent on both engines; the
    * single double division at output is qrounded.
    *
    * Scale: FREE beyond the shared projection — the weight is one extra
    * long riding [[coPairsOf]]'s existing pair shuffle, and this key is a
    * projection of the persisted frame (`_build:copurchase`), no new
    * shuffle at all.
    */
  private def adamicAdar(s: SparkSession, dir: String): DataFrame =
    coPairs(s, dir)
      .select(col("s1"), col("s2"), col("n_shared"),
        Det.qround(col("aa_q").cast("double") / AaScale, 6)
          .as("adamic_adar"))
      .orderBy(col("s1"), col("s2"))

  private val adamicAdarSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte
       |SELECT s1, s2, n_shared,
       |  ${Det.qroundSql(s"CAST(aa_q AS DOUBLE) / $AaScale.0", 6)}
       |    AS adamic_adar
       |FROM cop ORDER BY s1, s2""".stripMargin

  /** graph_summarize — structural graph summarization (the Gelly-family
    * `Summarization` library op): vertices grouped by an attribute, edges
    * collapsed to super-edges between the groups. Here the grouping
    * attribute is the NATION of each endpoint (customer and supplier dims
    * both carry a nationkey), so the 100 TB bipartite purchase graph
    * coarsens to a ≤ 25×25 nation-flow super-graph: per (src_nation,
    * dst_nation), the edge count, the distinct-member counts on each side,
    * and the exact-decimal total traded value.
    *
    * Scale: the group-attribute joins are the star-join shape — nation
    * (25 rows) is EXPLICITLY broadcast onto each dim; the dim→edge joins
    * shuffle on the edge's own keys (customer/supplier dims are NOT
    * broadcast — at 100 TB they are billions of rows; AQE may still choose
    * broadcast at test scale, which is exactly the right call there). The
    * final agg has ≤ 625 groups, so map-side partials collapse it to
    * nothing; the two distinct-counts ride one Expand over the same
    * exchange.
    */
  private def graphSummarize(s: SparkSession, dir: String): DataFrame = {
    val off = GTrade.offset(s, dir)
    val nat = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val custNat = Tables(s, dir, "customer")
      .select(col("c_custkey").as("src"), col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("src"), col("n_name").as("src_nation"))
    val suppNat = Tables(s, dir, "supplier")
      .select((col("s_suppkey") + off).as("dst"), col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("dst"), col("n_name").as("dst_nation"))
    summarizeOf(GTrade(s, dir).edges, custNat, suppNat)
  }

  /** Testable seam: super-graph collapse of an explicit edge frame given
    * `(src, src_nation)` / `(dst, dst_nation)` group assignments.
    */
  private[graft] def summarizeOf(edges: DataFrame, srcGroups: DataFrame,
                                 dstGroups: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("value"))
      .join(srcGroups, Seq("src"))
      .join(dstGroups, Seq("dst"))
      .groupBy(col("src_nation"), col("dst_nation"))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_src"),
        countDistinct(col("dst")).as("n_dst"),
        Det.decSum(col("value")).as("total_value"))
      .orderBy(col("src_nation"), col("dst_nation"))

  private val graphSummarizeSql =
    s"""${GTrade.SqlPrefix},
       |cn AS MATERIALIZED (
       |  SELECT c_custkey AS src, n_name AS src_nation
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
       |sn AS MATERIALIZED (
       |  SELECT ${GTrade.OffSql} + s_suppkey AS dst, n_name AS dst_nation
       |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
       |SELECT src_nation, dst_nation, COUNT(*) AS n_edges,
       |  COUNT(DISTINCT e.src) AS n_src, COUNT(DISTINCT e.dst) AS n_dst,
       |  ${Det.decSumSql("value")} AS total_value
       |FROM edges e JOIN cn ON e.src = cn.src JOIN sn ON e.dst = sn.dst
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Bench warm hook: materialize the shared co-purchase projection so
    * neither key absorbs the one-off build (`_build:copurchase`).
    */
  def warmCopurchase(s: SparkSession, dir: String): Unit = {
    coPairs(s, dir); ()
  }

  /** X78 — basket_rules: association-rule mining over the co-purchase
    * projection — per supplier pair, support count, directional
    * confidences (conf(s1→s2) = n_shared/deg(s1)) and lift
    * (n_shared·N / (deg(s1)·deg(s2))), the classic market-basket triple
    * a recommender candidate-generator is seeded with. Lift > 1 ⇔ the
    * pair co-occurs more than independence predicts — the signal; the
    * confidences give the rule its direction.
    *
    * Rides the SAME persisted pair frame as `graph_jaccard`/
    * `triangle_count` (`_build:copurchase` — zero new pair shuffles);
    * degrees are one hash agg over the edge set joined broadcast (the
    * jaccard plan shape), the basket total is a 1-row scalar crossJoin
    * (declared in PlanSpec's allowlist). Determinism: confidences as
    * integer ppm (X51 discipline); lift = ONE IEEE division of
    * exact-long products, qround(6).
    */
  private def basketRules(s: SparkSession, dir: String): DataFrame =
    basketRulesOf(GTrade(s, dir).edges, coPairs(s, dir))

  /** Testable seam for [[basketRules]]: explicit edge + pair frames (the
    * production path passes the memoized [[coPairs]]; tests pass
    * [[coPairsOf]] of the same edges).
    */
  private[graft] def basketRulesOf(edges: DataFrame,
      pairs: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
    val nb = e.select(countDistinct(col("src")).as("n_baskets"))
    pairs
      .join(broadcast(deg.select(col("dst").as("s1"), col("deg").as("d1"))),
        Seq("s1"))
      .join(broadcast(deg.select(col("dst").as("s2"), col("deg").as("d2"))),
        Seq("s2"))
      .crossJoin(broadcast(nb))
      .select(col("s1"), col("s2"), col("n_shared"),
        expr("n_shared * 1000000 div d1").as("conf_fwd_ppm"),
        expr("n_shared * 1000000 div d2").as("conf_rev_ppm"),
        Det.qround((col("n_shared") * col("n_baskets")).cast("double") /
          (col("d1") * col("d2")).cast("double"), 6).as("lift"))
      .orderBy(col("s1"), col("s2"))
  }

  private val basketRulesSql =
    s"""${GTrade.SqlPrefix}, $coPairsCte,
       |deg AS MATERIALIZED (
       |  SELECT dst AS id, COUNT(*) AS deg FROM edges GROUP BY dst),
       |nb AS (SELECT COUNT(DISTINCT src) AS n_baskets FROM edges)
       |SELECT s1, s2, n_shared,
       |  n_shared * 1000000 // d1.deg AS conf_fwd_ppm,
       |  n_shared * 1000000 // d2.deg AS conf_rev_ppm,
       |  ${Det.qroundSql(
             "CAST(n_shared * n_baskets AS DOUBLE) / " +
               "CAST(d1.deg * d2.deg AS DOUBLE)", 6)} AS lift
       |FROM cop JOIN deg d1 ON d1.id = s1 JOIN deg d2 ON d2.id = s2
       |CROSS JOIN nb
       |ORDER BY s1, s2""".stripMargin

  /** recsys_item_cosine minimum co-occurrence support / top-k cut. */
  private val ItemMinSupport = 2
  private val ItemTopK = 3

  /** X85 — recsys_item_cosine: item-item COSINE similarity over order
    * baskets with a top-[[ItemTopK]] cut per item — the classic
    * neighborhood-method candidate generator ("customers who bought i
    * also bought j"), the serving sibling of X78's support/confidence/
    * lift triple: cos(i,j) = n_ij / √(n_i·n_j) on the binary
    * order×part incidence, which is exactly the co-occurrence-normalized
    * angle between item columns.
    *
    * Determinism: n_ij, n_i, n_j are exact counts; the cosine is
    * √(exact-long product) then ONE division, qround(6) BEFORE the rank
    * window so rounding-equal scores tie-break on the other item's key
    * identically in both engines (round-then-rank, the X13 discipline).
    *
    * Scale: pair generation is the keyed basket self-join (pa < pb) —
    * O(basket²) per order, bounded by the ≤13-item baskets here and by
    * the X2's df-cap discipline on pathological carts at 100 TB; support
    * ≥ [[ItemMinSupport]] prunes the singleton-pair tail BEFORE the
    * degree joins. Degree frame is |parts|-sized (broadcast while the
    * catalog is cluster-small; keyed join past that). The top-k window
    * partitions by item over ≤|parts| candidates — the declared scale
    * path is X70's two-phase bottom-k; at this fan-in the one-window
    * form IS the semantic spec the oracle runs.
    */
  // The scored top-k item-similarity frame is shared by
  // `recsys_item_cosine` and `recsys_eval_coverage` (X103) — memoized per
  // (session, sfDir) so the basket self-join runs once (bench
  // `_build:itemcos` hook below).
  private val itemCosCache = graft.util.SessionMemo.persisted[String]()

  private def itemCosFrame(s: SparkSession, dir: String): DataFrame =
    itemCosCache(s, dir)(
      itemCosineOf(Tables(s, dir, "lineitem")).persist())

  /** Force the shared item-similarity frame (bench `_build:itemcos`). */
  def warmItemCos(s: SparkSession, dir: String): Unit = {
    itemCosFrame(s, dir).count(); ()
  }

  private def recsysItemCosine(s: SparkSession, dir: String): DataFrame =
    itemCosFrame(s, dir)

  /** Testable seam for [[recsysItemCosine]]: explicit lineitem frame. */
  private[graft] def itemCosineOf(lineitem: DataFrame): DataFrame = {
    // The distinct basket frame feeds FOUR consumers (both self-join
    // sides + both degree lookups); exchange reuse does NOT fire across
    // them (verified with Explain — the un-checkpointed plan scanned the
    // fact table four times), so materialize it once.
    val baskets = pinned(lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val deg = baskets.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val a = baskets.select(col("ok"), col("pk").as("pa"))
    val b = baskets.select(col("ok").as("okb"), col("pk").as("pb"))
    val pairs = a.join(b, col("ok") === col("okb") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("nij"))
      .filter(col("nij") >= ItemMinSupport)
    val dir2 = pairs.select(col("pa").as("i"), col("pb").as("j"), col("nij"))
      .unionByName(
        pairs.select(col("pb").as("i"), col("pa").as("j"), col("nij")))
    val scored = dir2
      .join(broadcast(deg.select(col("pk").as("i"), col("n").as("n_i"))),
        Seq("i"))
      .join(broadcast(deg.select(col("pk").as("j"), col("n").as("n_j"))),
        Seq("j"))
      .select(col("i"), col("j"), col("nij"), col("n_i"), col("n_j"),
        Det.qround(col("nij").cast("double") /
          sqrt((col("n_i") * col("n_j")).cast("double")), 6).as("cosine"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cosine").desc, col("j"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= ItemTopK)
      .select(col("i").as("part"), col("rank"), col("j").as("other"),
        col("nij").as("n_co"), col("n_i"), col("n_j"), col("cosine"))
      .orderBy(col("part"), col("rank"))
  }

  /** Shared CTE chain defining `topk` — the ranked item-similarity frame
    * — reused by the `recsys_item_cosine` and `recsys_eval_coverage`
    * oracles (the walksCtes discipline: one unrolling, no drift).
    */
  private val itemCosCtes = {
    val cos = Det.qroundSql(
      "CAST(nij AS DOUBLE) / sqrt(CAST(n_i * n_j AS DOUBLE))", 6)
    s"""WITH baskets AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |deg AS (SELECT pk, COUNT(*) AS n FROM baskets GROUP BY pk),
       |pairs AS (
       |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS nij
       |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $ItemMinSupport),
       |dir2 AS (SELECT pa AS i, pb AS j, nij FROM pairs
       |  UNION ALL SELECT pb, pa, nij FROM pairs),
       |scored AS (
       |  SELECT i, j, nij, di.n AS n_i, dj.n AS n_j, $cos AS cosine
       |  FROM dir2 JOIN deg di ON di.pk = i JOIN deg dj ON dj.pk = j),
       |topk AS MATERIALIZED (
       |  SELECT i AS part, rank, j AS other, nij AS n_co, n_i, n_j, cosine
       |  FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY i
       |          ORDER BY cosine DESC, j) AS INTEGER) AS rank FROM scored)
       |  WHERE rank <= $ItemTopK)""".stripMargin
  }

  private val recsysItemCosineSql =
    s"""$itemCosCtes
       |SELECT part, rank, other, n_co, n_i, n_j, cosine
       |FROM topk ORDER BY part, rank""".stripMargin

  /** X103 — recsys_eval_coverage: the recommendation-quality audit over
    * the X85 top-k lists — catalog coverage (how much of the catalog is
    * ever recommended) and exposure inequality (Gini over how often each
    * surfaced item appears across lists): the two metrics that catch a
    * candidate generator collapsing onto popular items, which accuracy
    * metrics reward rather than flag. The X42 audit-as-oracle-row
    * discipline applied to recsys: a similarity change that narrows
    * coverage or concentrates exposure moves this row and fails the
    * gate.
    *
    * Determinism: coverage in integer ppm; Gini from the rank form
    * `(2·Σ rank·x − (n+1)·Σx) / (n·Σx)` with EXACT integer numerator
    * and denominator (rank window ties broken by item key), ONE
    * cast+division, qround(6). Gini is over surfaced items (the
    * unsurfaced tail is what coverage_ppm reports — the two columns
    * partition the question).
    *
    * Scale: rides the memoized [[itemCosFrame]] (`_build:itemcos` —
    * the basket self-join never re-runs); the exposure aggregate is
    * ≤|parts| rows, the rank window runs on that frame, and the
    * catalog count is a 1-row scalar (declared crossJoin).
    */
  private def recsysEvalCoverage(s: SparkSession, dir: String): DataFrame =
    evalCoverageOf(itemCosFrame(s, dir), Tables(s, dir, "lineitem"))

  /** Testable seam for [[recsysEvalCoverage]]: explicit top-k frame. */
  private[graft] def evalCoverageOf(topk: DataFrame,
                                    lineitem: DataFrame): DataFrame = {
    val catalog = lineitem
      .agg(countDistinct(col("l_partkey")).as("n_catalog"))
    val exp = topk.groupBy(col("other")).agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("x"), col("other"))
    val g = exp.withColumn("rk", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_rec"), sum(col("x")).as("sx"),
        sum(col("rk") * col("x")).as("srx"),
        max(col("x")).as("max_exposure"))
    g.crossJoin(broadcast(catalog))
      .select(col("n_catalog"), col("n_rec"),
        expr("n_rec * 1000000 div n_catalog").as("coverage_ppm"),
        col("max_exposure"),
        Det.qround(
          (lit(2L) * col("srx") - (col("n_rec") + 1L) * col("sx"))
            .cast("double") /
            (col("n_rec") * col("sx")).cast("double"), 6)
          .as("exposure_gini"))
  }

  private val recsysEvalCoverageSql =
    s"""$itemCosCtes,
       |cat AS (SELECT COUNT(DISTINCT l_partkey) AS n_catalog
       |        FROM lineitem),
       |exp AS (SELECT other, COUNT(*) AS x FROM topk GROUP BY 1),
       |rk AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, other)
       |         AS BIGINT) AS rk FROM exp),
       |g AS (SELECT COUNT(*) AS n_rec, CAST(SUM(x) AS BIGINT) AS sx,
       |        CAST(SUM(rk * x) AS BIGINT) AS srx,
       |        MAX(x) AS max_exposure FROM rk)
       |SELECT n_catalog, n_rec,
       |  n_rec * 1000000 // n_catalog AS coverage_ppm, max_exposure,
       |  ${Det.qroundSql(
           "CAST(2 * srx - (n_rec + 1) * sx AS DOUBLE)" +
             " / CAST(n_rec * sx AS DOUBLE)", 6)} AS exposure_gini
       |FROM g CROSS JOIN cat""".stripMargin

  /** Pinned integer NDCG discount table: `floor(10⁶/log₂(r+1) + 0.5)` for
    * rank r = 1..10, and its cumulative sums (the IDCG of k all-relevant
    * positions). Pinning the µ-discounts as literals keeps the WHOLE NDCG
    * computation in exact integer arithmetic — no cross-engine libm log.
    */
  private val NdcgDisc = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)
  private val NdcgCum = NdcgDisc.scanLeft(0L)(_ + _).tail

  /** X119 — recsys_ndcg: the RANKING-QUALITY eval that closes the recsys
    * rung — leave-last-basket protocol (each customer's latest order by
    * (date, orderkey) is held out; earlier orders train), item-based CF
    * scoring (sum over the user's train items of the X85 top-k cosine to
    * the candidate, train items excluded), top-10 ranking, and per-user
    * hits@10 / DCG / IDCG / NDCG against the held-out basket.
    *
    * Determinism: candidate scores sum the µ-scaled integer cosines (the
    * q6-rounded cosine ×10⁶ is exactly representable → integer sum is
    * order-independent), ranking ties break on item id, and the log₂
    * discounts are the pinned integer table [[NdcgDisc]] — the whole eval
    * is integer arithmetic, value-compared with zero bands. Hit sparsity
    * (~2 % of users score a hit at every SF — measured before landing) is
    * a property of the weak co-occurrence signal in the near-uniform
    * fixture baskets, not of the eval; the spec pins a dense hand-built
    * case. Scale: rides the memoized `_build:itemcos` frame; one fact
    * join to form train/test, one keyed join train⋈topk (|train|·k rows),
    * per-user window over ≤ |parts| candidates — no all-pairs, no global
    * sorts beyond the output ORDER BY.
    */
  private def recsysNdcg(s: SparkSession, dir: String): DataFrame =
    ndcgOf(itemCosFrame(s, dir), Tables(s, dir, "orders"),
      Tables(s, dir, "lineitem"))

  /** Testable seam for [[recsysNdcg]]: explicit top-k similarity frame. */
  private[graft] def ndcgOf(topk: DataFrame, orders: DataFrame,
                            lineitem: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("u"))
      .orderBy(col("d").desc, col("ok").desc)
    val uranked = orders
      .select(col("o_custkey").as("u"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("d")).distinct()
      .withColumn("rn", row_number().over(wU))
      .select(col("ok"), col("rn"))
    val ui = orders
      .select(col("o_custkey").as("u"), col("o_orderkey").as("ok"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey").as("p")),
        col("ok") === col("l_orderkey"))
      .join(uranked, Seq("ok"))
      .select(col("u"), col("p"), col("rn"))
    // train/test each feed 2–3 consumers — materialize the small distinct
    // frames once (the baskets discipline).
    val test = pinned(ui.where(col("rn") === 1).select(col("u"), col("p"))
      .distinct())
    val train = pinned(ui.where(col("rn") > 1).select(col("u"), col("p"))
      .distinct())
    val cand = train
      .join(topk.select(col("part"), col("other"),
          floor(col("cosine") * 1e6 + 0.5).cast("long").as("micro")),
        col("p") === col("part"))
      .groupBy(col("u"), col("other")).agg(sum(col("micro")).as("score"))
      .join(train.select(col("u"), col("p").as("other")),
        Seq("u", "other"), "left_anti")
    val reco = cand
      .withColumn("rk", row_number().over(Window.partitionBy(col("u"))
        .orderBy(col("score").desc, col("other"))))
      .where(col("rk") <= 10)
    val disc = array(NdcgDisc.map(lit): _*)
    val ev = reco
      .join(test.select(col("u"), col("p").as("other"), lit(1).as("hit")),
        Seq("u", "other"), "left")
      .select(col("u"), col("rk"), coalesce(col("hit"), lit(0)).as("hit"))
    val peru = ev.groupBy(col("u")).agg(
      count(lit(1)).as("n_reco"),
      sum(col("hit").cast("long")).as("n_hits"),
      sum((col("hit").cast("long") * element_at(disc, col("rk"))))
        .as("dcg_ppm"))
    val cum = array(NdcgCum.map(lit): _*)
    peru
      .join(train.groupBy(col("u")).agg(count(lit(1)).as("n_train")),
        Seq("u"))
      .join(test.groupBy(col("u")).agg(count(lit(1)).as("n_test")),
        Seq("u"))
      .select(col("u").as("custkey"), col("n_train"), col("n_test"),
        col("n_reco"), col("n_hits"), col("dcg_ppm"),
        element_at(cum, least(col("n_test"), lit(10)).cast("int"))
          .as("idcg_ppm"))
      .withColumn("ndcg_ppm", expr("dcg_ppm * 1000000 div idcg_ppm"))
      .orderBy(col("custkey"))
  }

  private val recsysNdcgSql = {
    val discList = NdcgDisc.mkString("[", ",", "]")
    val cumList = NdcgCum.mkString("[", ",", "]")
    s"""$itemCosCtes,
       |uranked AS (
       |  SELECT ok, ROW_NUMBER() OVER (PARTITION BY u
       |    ORDER BY d DESC, ok DESC) AS rn
       |  FROM (SELECT DISTINCT o_custkey AS u, o_orderkey AS ok,
       |          o_orderdate AS d FROM orders)),
       |ui AS (
       |  SELECT o_custkey AS u, l_partkey AS p, rn
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN uranked ON uranked.ok = o_orderkey),
       |vtest AS (SELECT DISTINCT u, p FROM ui WHERE rn = 1),
       |vtrain AS (SELECT DISTINCT u, p FROM ui WHERE rn > 1),
       |cand AS (
       |  SELECT t.u, k.other AS j,
       |    CAST(SUM(CAST(FLOOR(k.cosine * 1e6 + 0.5) AS BIGINT))
       |      AS BIGINT) AS score
       |  FROM vtrain t JOIN topk k ON t.p = k.part
       |  WHERE NOT EXISTS (SELECT 1 FROM vtrain t2
       |                    WHERE t2.u = t.u AND t2.p = k.other)
       |  GROUP BY 1, 2),
       |reco AS (
       |  SELECT u, j, rk FROM (
       |    SELECT u, j, ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY score DESC, j) AS rk FROM cand)
       |  WHERE rk <= 10),
       |ev AS (
       |  SELECT r.u, r.rk, CAST(te.p IS NOT NULL AS INT) AS hit
       |  FROM reco r LEFT JOIN vtest te ON te.u = r.u AND te.p = r.j),
       |peru AS (
       |  SELECT u, COUNT(*) AS n_reco, CAST(SUM(hit) AS BIGINT) AS n_hits,
       |    CAST(SUM(hit * ($discList)[rk]) AS BIGINT) AS dcg_ppm
       |  FROM ev GROUP BY u),
       |ntr AS (SELECT u, COUNT(*) AS n_train FROM vtrain GROUP BY u),
       |nte AS (SELECT u, COUNT(*) AS n_test FROM vtest GROUP BY u)
       |SELECT p.u AS custkey, ntr.n_train, nte.n_test, p.n_reco, p.n_hits,
       |  p.dcg_ppm,
       |  CAST(($cumList)[least(nte.n_test, 10)] AS BIGINT) AS idcg_ppm,
       |  p.dcg_ppm * 1000000
       |    // CAST(($cumList)[least(nte.n_test, 10)] AS BIGINT) AS ndcg_ppm
       |FROM peru p JOIN ntr ON ntr.u = p.u JOIN nte ON nte.u = p.u
       |ORDER BY custkey""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("recsys_ndcg", recsysNdcg, Some(recsysNdcgSql)),
    Q("graph_jaccard", graphJaccard, Some(graphJaccardSql)),
    Q("graph_butterflies", graphButterflies, Some(graphButterfliesSql)),
    Q("recsys_item_cosine", recsysItemCosine, Some(recsysItemCosineSql)),
    Q("recsys_eval_coverage", recsysEvalCoverage,
      Some(recsysEvalCoverageSql)),
    Q("basket_rules", basketRules, Some(basketRulesSql)),
    Q("graph_adamic_adar", adamicAdar, Some(adamicAdarSql)),
    Q("graph_summarize", graphSummarize, Some(graphSummarizeSql)),
    Q("triangle_count", triangleCount, Some(triangleCountSql)),
    Q("graph_edge_support", graphEdgeSupport, Some(graphEdgeSupportSql)),
    Q("clustering_coeff", clusteringCoeff, Some(clusteringCoeffSql)),
    Q("degree_assortativity", degreeAssortativity,
      Some(degreeAssortativitySql)))
}
