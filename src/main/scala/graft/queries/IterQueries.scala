package graft.queries

import graft.algorithms.GraphAlgorithms
import graft.sources.{GTrade, GraphSource}
import graft.util.{Det, Propagate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative algorithms I2–I6 (SURVEY §2.6) on G_trade, with DuckDB oracles
  * generated by *unrolling* the level-synchronous BSP supersteps into
  * chained CTE levels — one CTE per superstep, exactly the computation the
  * Pregel run performs (SURVEY §7.3.2: fixed iteration counts make the
  * oracles deterministic SQL).
  */
object IterQueries {
  private val SsspIters = 4
  private val CcIters   = 6
  private val PrIters   = 10
  private val PrBeta    = 0.85
  private val LpIters   = 5

  // The DataFrame→GraphX conversion and the CC fixpoint are each computed
  // once per (session, sfDir) and shared by every iterative query — the
  // conversion shuffle and the Pregel run are the expensive parts, not the
  // final per-query projections.
  private val gxCache = new graft.util.SessionMemo[(GraphSource, String),
    org.apache.spark.graphx.Graph[Double, Double]](
    _.unpersist(blocking = false))
  private val ccCache = graft.util.SessionMemo.persisted[String]()

  /** The cached GraphX conversion of `source`'s undirected view, once per
    * (session, source, sfDir): `GTrade` here, `GUser` for the user-graph
    * keys.
    */
  private[queries] def gxUndirected(s: SparkSession, dir: String,
      source: GraphSource) =
    gxCache(s, (source, dir)) {
      val base = source(s, dir)
      val parts = GraphAlgorithms.sizedParts(s, 2L * base.edges.count())
      GraphAlgorithms.toGraphX(base.undirected, parts).cache()
    }

  private def ccResult(s: SparkSession, dir: String): DataFrame =
    ccCache(s, dir)(
      GraphAlgorithms.connectedComponents(s, gxUndirected(s, dir, GTrade),
        CcIters)
        .persist())

  /** Force the shared GraphX conversion (bench `_build:graphx` timing
    * hook; see [[graft.sources.GTrade.warm]]).
    */
  def warmGraphX(s: SparkSession, dir: String): Unit = {
    val gx = gxUndirected(s, dir, GTrade)
    gx.edges.count(); gx.vertices.count(); ()
  }

  /** Force the shared CC fixpoint (bench `_build:cc` timing hook). */
  def warmCc(s: SparkSession, dir: String): Unit = {
    ccResult(s, dir).count(); ()
  }

  // ---- I2 SSSP (bounded, undirected, source = customer 0) ----

  private def sssp(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.ssspBounded(s, gxUndirected(s, dir, GTrade), source = 0L,
      maxIterations = SsspIters).orderBy(col("id"))

  private val ssspSql: String =
    s"""${GTrade.SqlPrefixUndirected},
       |d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS v),
       |${Propagate.sql("d", "uedges", "s.v + e.value", "MIN", SsspIters)}
       |SELECT id, v AS dist FROM d$SsspIters ORDER BY id""".stripMargin

  // ---- I3 connected components (bounded, undirected) ----

  private def cc(s: SparkSession, dir: String): DataFrame =
    ccResult(s, dir).orderBy(col("id"))

  /** Unrolled bounded-CC CTE chain over any (vertices, undirected-edges)
    * CTE pair — one min-propagation level per superstep, `c1` … `c<iters>`
    * of (id, v = the component label), shared by the G_trade, G_user, and
    * string-keyed CC oracles (the chain is purely structural in the id
    * type: MIN works the same over BIGINT and VARCHAR ids).
    */
  private[queries] def ccUnrolled(prefixUndirected: String, iters: Int,
                                  edges: String = "uedges",
                                  verts: String = "vertices"): String =
    s"""$prefixUndirected,
       |c0 AS MATERIALIZED (SELECT id, id AS v FROM $verts),
       |${Propagate.sql("c", edges, "s.v", "MIN", iters)}""".stripMargin

  private def ccLevelsSql: String =
    ccUnrolled(GTrade.SqlPrefixUndirected, CcIters)

  private val ccSql =
    s"$ccLevelsSql\nSELECT id, v AS comp FROM c$CcIters ORDER BY id"

  /** X108 — graph_cc_sizes: the component-size distribution over the
    * converged CC labels — the standard first question asked OF a
    * component run (one giant component or fragmentation? how long is
    * the small-component tail?), reported as the size histogram
    * (component size → how many components have it) plus each bucket's
    * vertex share in integer ppm. Rides the memoized [[ccResult]]
    * (`_build:cc`) and the SAME unrolled CTE chain as the
    * `connected_components` oracle — two tiny roll-ups on top of an
    * already-audited fixpoint, zero new iteration.
    */
  private def graphCcSizes(s: SparkSession, dir: String): DataFrame =
    ccSizesOf(ccResult(s, dir))

  /** Testable seam for [[graphCcSizes]]: explicit (id, comp) frame. */
  private[graft] def ccSizesOf(labels: DataFrame): DataFrame = {
    val per = labels.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val hist = per.groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
    val tot = labels.agg(count(lit(1)).as("n_vertices"))
    hist.crossJoin(broadcast(tot))
      .select(col("sz").as("component_size"), col("n_components"),
        expr("sz * n_components * 1000000 div n_vertices")
          .as("vertex_share_ppm"))
      .orderBy(col("component_size"))
  }

  private val graphCcSizesSql =
    s"""$ccLevelsSql,
       |per AS (SELECT v, COUNT(*) AS sz FROM c$CcIters GROUP BY v),
       |hist AS (SELECT sz, COUNT(*) AS n_components FROM per GROUP BY sz),
       |tot AS (SELECT COUNT(*) AS n_vertices FROM c$CcIters)
       |SELECT sz AS component_size, n_components,
       |  sz * n_components * 1000000 // n_vertices AS vertex_share_ppm
       |FROM hist CROSS JOIN tot
       |ORDER BY component_size""".stripMargin

  // ---- I4 PageRank (fixed 10 iterations, directed, weighted) ----

  private def pagerank(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.pageRank(s, GTrade(s, dir), PrIters, PrBeta)
      .orderBy(col("id"))

  /** Unrolled fixed-iteration PageRank over any (vertices, edges) CTE
    * pair — shared by the G_trade and G_user oracles.
    * r·(value/w): parenthesized to match the Spark side, which
    * pre-normalizes edge weights before multiplying by the rank.
    */
  private[queries] def pagerankUnrolled(prefix: String, iters: Int,
                                        beta: Double,
                                        srcBound: Option[Long] = None)
      : String = {
    // srcBound = None keeps the EXACT uniform-teleport strings the
    // existing pagerank / pagerank_user oracles hash-matched with;
    // Some(b) mirrors [[GraphAlgorithms.pageRankKernel]]'s personalized
    // teleport: mass 1/|{id < b}| on sources, literal 0.0 elsewhere.
    val nnCte = srcBound match {
      case None =>
        "SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices"
      case Some(b) =>
        s"SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices WHERE id < $b"
    }
    val r0Expr = srcBound match {
      case None => "1.0 / nn.n"
      case Some(b) => s"CASE WHEN id < $b THEN 1.0 / nn.n ELSE 0.0 END"
    }
    def teleExpr(idRef: String) = srcBound match {
      case None => s"${1 - beta} / nn.n"
      case Some(b) =>
        s"CASE WHEN $idRef < $b THEN ${1 - beta} / nn.n ELSE 0.0 END"
    }
    val levels = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id, ${teleExpr("v.id")} + $beta * COALESCE(m.s, 0.0) AS r
         |  FROM vertices v CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst, SUM(r.r * (e.value / ow.w)) AS s
         |    FROM r${k - 1} r JOIN edges e ON e.src = r.id
         |    JOIN ow ON ow.src = e.src
         |    GROUP BY e.dst) m ON v.id = m.dst)""".stripMargin
    }.mkString(",\n")
    s"""$prefix,
       |nn AS MATERIALIZED (SELECT n FROM ($nnCte)),
       |ow AS MATERIALIZED (SELECT src, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS w
       |       FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT id, $r0Expr AS r FROM vertices CROSS JOIN nn),
       |$levels
       |SELECT id, FLOOR(r * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM r$iters ORDER BY id""".stripMargin
  }

  private val pagerankSql: String =
    pagerankUnrolled(GTrade.SqlPrefix, PrIters, PrBeta)

  /** X43 — pagerank_personalized: teleport restricted to the 6 lowest
    * customer ids (custkeys start at 0) — ranks become
    * proximity-to-source scores (the recommendation shape). Same kernel,
    * same unrolled oracle, one CASE in the teleport term. On bipartite
    * G_trade the sparsity story is visible in the result itself:
    * non-source customers have NO in-edges, so they carry an exact 0.0
    * on both engines, and the sources hold pure teleport mass
    * ((1−β)/6 — nothing flows back across the bipartition).
    */
  private val PprSrcBound = 6L

  private def pagerankPersonalized(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.personalizedPageRank(s, GTrade(s, dir), PrIters, PrBeta,
      PprSrcBound).orderBy(col("id"))

  private val pagerankPersonalizedSql: String =
    pagerankUnrolled(GTrade.SqlPrefix, PrIters, PrBeta, Some(PprSrcBound))

  // ---- I5 label propagation ----
  // The pinned tie rule (count DESC, label ASC — SURVEY §7.3.5) is fully
  // deterministic, so the synchronous rounds unroll to SQL exactly like
  // SSSP/CC/PR: per round one (vid, label) count and a row_number argmax.

  // The converged LP label frame is shared by `label_propagation` and
  // `graph_modularity` (X97) — memoized per (session, sfDir) so the five
  // synchronous rounds run once (bench `_build:lp` hook below).
  private val lpCache = graft.util.SessionMemo.pinned[String]()

  private[graft] def lpFrame(s: SparkSession, dir: String): DataFrame =
    lpCache(s, dir)(
      GraphAlgorithms.labelPropagation(s, GTrade(s, dir).undirected, LpIters))

  /** Force the shared LP fixpoint (bench `_build:lp` timing hook). */
  def warmLp(s: SparkSession, dir: String): Unit = {
    lpFrame(s, dir).count(); ()
  }

  private def labelProp(s: SparkSession, dir: String): DataFrame =
    lpFrame(s, dir).orderBy(col("id"))

  /** The unrolled LP CTE chain (defines `l$LpIters` over `uedges`) —
    * shared by the `label_propagation` and `graph_modularity` oracles so
    * the unrolling cannot drift between them (the walksCtes discipline).
    */
  private val lpCtes: String = {
    val rounds = (1 to LpIters).map { k =>
      s"""cnt$k AS MATERIALIZED (
         |  SELECT e.dst AS vid, l.label, COUNT(*) AS c
         |  FROM uedges e JOIN l${k - 1} l ON l.id = e.src
         |  GROUP BY 1, 2),
         |win$k AS MATERIALIZED (
         |  SELECT vid, label AS next FROM (
         |    SELECT vid, label, row_number() OVER (
         |      PARTITION BY vid ORDER BY c DESC, label ASC) AS rk
         |    FROM cnt$k) WHERE rk = 1),
         |l$k AS MATERIALIZED (
         |  SELECT v.id, COALESCE(w.next, v.label) AS label
         |  FROM l${k - 1} v LEFT JOIN win$k w ON w.vid = v.id)""".stripMargin
    }.mkString(",\n")
    s"""${GTrade.SqlPrefixUndirected},
       |l0 AS MATERIALIZED (SELECT id, id AS label FROM vertices),
       |$rounds""".stripMargin
  }

  private val labelPropSql: String =
    s"""$lpCtes
       |SELECT id, label FROM l$LpIters ORDER BY id""".stripMargin

  /** X97 — graph_modularity: Newman modularity of the converged
    * label-propagation partition — the standing quality metric FOR the
    * community detection the reference family ships (a partition without
    * its Q is an unaudited artifact; this key makes the audit an oracle
    * row, the X42 recall-contract discipline applied to communities).
    * Per community c over the undirected edge multiset:
    * `q_num(c) = within_pairs(c)·2m − d_c²` — ENTIRELY exact integers
    * (within_pairs counts ordered within-community pairs = 2·e_c, d_c is
    * the community degree sum, 2m = |directed pair rows|), so
    * Q = Σ q_num / (2m)² with ONE deterministic cast+division per row;
    * Σ q_contrib over the output IS the graph's modularity.
    *
    * Scale: two keyed |E| label joins (labels broadcast while |V| is
    * cluster-small), one map-side-combinable per-label agg, a 1-row 2m
    * scalar (declared crossJoin). Rides the memoized [[lpFrame]] — the
    * five LP rounds never re-run for this key.
    *
    * On the gate fixture the audit WORKS as an audit: LP on bipartite
    * G_trade converges to a near-bipartition (every edge crosses), and
    * the key reports within_pairs = 0, Q = −0.5 — worse than random,
    * exactly the verdict modularity exists to deliver on anti-community
    * labelings (sf1's 30-community result is positive-structured). The
    * oracle pins both regimes.
    */
  private def graphModularity(s: SparkSession, dir: String): DataFrame =
    modularityOf(lpFrame(s, dir), GTrade(s, dir).undirected.edges)

  /** Testable seam for [[graphModularity]]: explicit (id, label) frame +
    * UNDIRECTED edge multiset (both orientations present).
    */
  private[graft] def modularityOf(labels0: DataFrame,
                                  uedges: DataFrame): DataFrame = {
    val labels = labels0.select(col("id"), col("label"))
    val ue = uedges.select(col("src"), col("dst"))
    val lab = ue
      .join(labels.select(col("id").as("src"), col("label").as("lsrc")),
        Seq("src"))
      .join(labels.select(col("id").as("dst"), col("label").as("ldst")),
        Seq("dst"))
    val per = lab.groupBy(col("lsrc").as("label")).agg(
      count(lit(1)).as("degree_sum"),
      sum(when(col("lsrc") === col("ldst"), 1L).otherwise(0L))
        .as("within_pairs"))
    val nv = labels.groupBy(col("label")).agg(count(lit(1)).as("n_vertices"))
    val tm = ue.agg(count(lit(1)).as("two_m"))
    val qNum = col("within_pairs") * col("two_m") -
      col("degree_sum") * col("degree_sum")
    nv.join(per, Seq("label"), "left")
      .select(col("label"), col("n_vertices"),
        coalesce(col("within_pairs"), lit(0L)).as("within_pairs"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .crossJoin(broadcast(tm))
      .select(col("label"), col("n_vertices"), col("within_pairs"),
        col("degree_sum"), qNum.as("q_num"),
        Det.qround(qNum.cast("double") /
          (col("two_m") * col("two_m")).cast("double"), 6).as("q_contrib"))
      .orderBy(col("label"))
  }

  private val graphModularitySql = {
    val qNum = "within_pairs * two_m - degree_sum * degree_sum"
    s"""$lpCtes,
       |lab AS (
       |  SELECT ls.label AS lsrc, ld.label AS ldst
       |  FROM uedges e JOIN l$LpIters ls ON ls.id = e.src
       |  JOIN l$LpIters ld ON ld.id = e.dst),
       |per AS (
       |  SELECT lsrc AS label, COUNT(*) AS degree_sum,
       |    CAST(SUM(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT)
       |      AS within_pairs
       |  FROM lab GROUP BY 1),
       |nv AS (SELECT label, COUNT(*) AS n_vertices
       |       FROM l$LpIters GROUP BY 1),
       |tm AS (SELECT COUNT(*) AS two_m FROM uedges),
       |base AS (
       |  SELECT nv.label, n_vertices,
       |    COALESCE(within_pairs, 0) AS within_pairs,
       |    COALESCE(degree_sum, 0) AS degree_sum, two_m
       |  FROM nv LEFT JOIN per ON per.label = nv.label CROSS JOIN tm)
       |SELECT label, n_vertices, within_pairs, degree_sum,
       |  $qNum AS q_num,
       |  ${Det.qroundSql(
           s"CAST($qNum AS DOUBLE) / CAST(two_m * two_m AS DOUBLE)", 6)}
       |    AS q_contrib
       |FROM base ORDER BY label""".stripMargin
  }

  // ---- extension: HITS hubs & authorities ----

  private val HitsIters = 5

  private def hits(s: SparkSession, dir: String): DataFrame =
    GraphAlgorithms.hits(s, GTrade(s, dir), HitsIters).orderBy(col("id"))

  /** Unrolled twin of the integer-scaled HITS rounds: every sum is an
    * exact BIGINT sum and the only FP step is the pinned
    * `FLOOR(sum/norm · 10⁹ + 0.5)` renormalize — bit-identical by
    * construction (no decimal casts of computed doubles).
    */
  private val hitsSql: String = {
    def renorm(sums: String, prev: String, joinOn: String,
               sumCol: String, out: String, outCte: String): String =
      s"""$sums AS MATERIALIZED (
         |  SELECT e.$joinOn AS id, SUM(p.$sumCol) AS s
         |  FROM edges e JOIN $prev p
         |    ON p.id = e.${if (joinOn == "dst") "src" else "dst"}
         |  GROUP BY 1),
         |${sums}n AS MATERIALIZED (
         |  SELECT CAST(SUM(s) AS DOUBLE) AS nrm FROM $sums),
         |$outCte AS MATERIALIZED (
         |  SELECT v.id,
         |    CAST(FLOOR(CAST(COALESCE(m.s, 0) AS DOUBLE) / n.nrm
         |         * 1000000000.0 + 0.5) AS BIGINT) AS $out
         |  FROM vertices v CROSS JOIN ${sums}n n
         |  LEFT JOIN $sums m ON v.id = m.id)""".stripMargin
    val rounds = (1 to HitsIters).map { k =>
      renorm(s"as$k", s"h${k - 1}", "dst", "hv", "av", s"a$k") + ",\n" +
        renorm(s"hs$k", s"a$k", "src", "av", "hv", s"h$k")
    }.mkString(",\n")
    s"""${GTrade.SqlPrefix},
       |h0 AS MATERIALIZED (
       |  SELECT id, CAST(1000000000 AS BIGINT) AS hv FROM vertices),
       |$rounds
       |SELECT h.id, h.hv AS hub_scaled, a.av AS auth_scaled,
       |  CAST(h.hv AS DOUBLE) / 1000000000.0 AS hub,
       |  CAST(a.av AS DOUBLE) / 1000000000.0 AS auth
       |FROM h$HitsIters h JOIN a$HitsIters a ON a.id = h.id
       |ORDER BY h.id""".stripMargin
  }

  // ---- I6 is_weakly_connected ----

  private def weaklyConnected(s: SparkSession, dir: String): DataFrame =
    ccResult(s, dir)
      .agg(countDistinct(col("comp")).as("n_components"))
      .select(col("n_components"),
        (col("n_components") === 1).cast("int").as("is_connected"))

  private val weaklyConnectedSql =
    s"""$ccLevelsSql
       |SELECT COUNT(DISTINCT v) AS n_components,
       |       CAST(COUNT(DISTINCT v) = 1 AS INT) AS is_connected
       |FROM c$CcIters""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("sssp", sssp, Some(ssspSql)),
    Q("connected_components", cc, Some(ccSql)),
    Q("graph_cc_sizes", graphCcSizes, Some(graphCcSizesSql)),
    Q("pagerank", pagerank, Some(pagerankSql)),
    Q("pagerank_personalized", pagerankPersonalized,
      Some(pagerankPersonalizedSql)),
    Q("label_propagation", labelProp, Some(labelPropSql)),
    Q("graph_modularity", graphModularity, Some(graphModularitySql)),
    Q("hits", hits, Some(hitsSql)),
    Q("is_weakly_connected", weaklyConnected, Some(weaklyConnectedSql)),
  )
}
