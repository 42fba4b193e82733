package graft

import graft.sources.GUser
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The G_user two-phase successor construction (range partition + stitch)
  * must produce EXACTLY the graph the textbook `lead()` window defines —
  * on any partition count, including partition boundaries that split a
  * type run. The oracle hash-match proves this once per dataset; these
  * tests prove it structurally on adversarial shapes.
  */
class GUserSpec extends GraftSuite {
  import spark.implicits._

  /** Synthetic event log: 3 types × interleaved users, event_id dense. */
  private def mkEvents(rows: Seq[(Long, String, Long)]) =
    rows.toDF("event_id", "event_type", "user_id")

  private def windowEdges(events: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    events.select(col("user_id").as("src"),
        lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("value"))
  }

  private def assertSameGraph(events: org.apache.spark.sql.DataFrame,
                              parts: Int): Unit = {
    val got = GUser.fromEvents(spark, events, forcedParts = parts)
      .edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val want = windowEdges(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got === want, s"parts=$parts")
  }

  test("two-phase edges == window edges across partition counts") {
    // 120 events, 3 types interleaved, users cycle with repeats so
    // self-loops and multi-edges both occur.
    val rows = (0L until 120L).map { i =>
      (i, "t" + (i % 3), (i * i + i / 7) % 5)
    }
    val ev = mkEvents(rows)
    // 1 partition (no stitch), 4 (each type spans partitions), 13 (more
    // partitions than needed — empty ranges and single-run partitions).
    Seq(1, 4, 13).foreach(assertSameGraph(ev, _))
  }

  test("a type confined to one row yields no edge; self-loops survive") {
    val ev = mkEvents(Seq(
      (0L, "a", 1L), (1L, "a", 1L), (2L, "b", 2L), (3L, "a", 3L)))
    val g = GUser.fromEvents(spark, ev, forcedParts = 3)
    val edges = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // a: 1→1 (self-loop), 1→3; b: single event, no successor.
    assert(edges === Seq((1L, 1L, 1.0), (1L, 3L, 1.0)))
    val verts = g.vertices.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(verts === Seq((1L, 2.0), (2L, 1.0), (3L, 1.0)))
  }

  test("property: random event logs × partition counts, two-phase == " +
    "window") {
    // Deterministic pseudo-random logs (seeded) — denser user reuse than
    // the hand-built cases, uneven type frequencies, and partition counts
    // chosen to land boundaries inside and between type runs.
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 5) {
      val nTypes = 1 + rnd.nextInt(4)
      val nUsers = 1 + rnd.nextInt(8)
      val n = 30 + rnd.nextInt(170)
      val rows = (0L until n.toLong).map { i =>
        (i, "t" + rnd.nextInt(nTypes), rnd.nextInt(nUsers).toLong)
      }
      val ev = mkEvents(rows)
      assertSameGraph(ev, 1 + rnd.nextInt(16))
      assertSameGraph(ev, n) // more partitions than rows
    }
  }

  test("real fixture has self-loops and cycles (what G_trade lacks)") {
    val g = GUser(spark, "/root/testdata/sf0.001")
    val loops = g.edges.filter(col("src") === col("dst")).count()
    assert(loops > 0)
    // succession is mutual somewhere: at least one 2-cycle src↔dst
    val e = g.edges.select("src", "dst")
    val cycles = e.as("a").join(e.as("b"),
      col("a.src") === col("b.dst") && col("a.dst") === col("b.src") &&
        col("a.src") < col("a.dst")).count()
    assert(cycles > 0)
  }

  test("graph_reciprocity: loops excluded, mutual pairs counted both ways") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = graft.queries.UserGraphQueries.reciprocityOf(e).collect()(0)
    assert(r.getLong(0) === 5L) // n_edges
    assert(r.getLong(1) === 1L) // n_loops
    assert(r.getLong(2) === 2L) // 1→2 and 2→1 each reciprocated
    assert(r.getDouble(3) === 0.5) // 2 of 4 non-loop edges
  }

  test("triangle_census: fixture graph has 1 cycle and 2 transitive triads") {
    // Reference fixture (FIXTURES.md §2): 1→2,1→3,2→3,3→4,3→5,4→5,5→1.
    // Directed 3-cycles: 1→3→5→1 only. Transitive triads: (1,2,3) via
    // shortcut 1→3 and (3,4,5) via shortcut 3→5.
    val r = graft.queries.UserGraphQueries
      .triangleCensusOf(fixture.edges).collect()(0)
    assert(r.getLong(0) === 1L) // n_cyclic
    assert(r.getLong(1) === 2L) // n_transitive
  }

  test("triangle_census: loops and double cycles handled") {
    import spark.implicits._
    // K3 with all 6 edges + a loop: both rotations-of-3 distinct directed
    // 3-cycles exist (abc and acb), and every ordered distinct triple
    // (3! = 6) is transitive.
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L), (2L, 2L)).toDF("src", "dst")
    val r = graft.queries.UserGraphQueries.triangleCensusOf(e).collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 6L)
  }

  test("graph_closeness: fixture harmonic sums match hand-computed BFS") {
    // All 5 fixture vertices are landmarks (L=8 > |V|). Undirected
    // distances: d(1,·)=[2:1,3:1,4:2,5:1], d(2,·)=[3:1,4:2,5:2],
    // d(3,·)=[4:1,5:1], d(4,5)=1.
    val g = fixture
    val out = graft.queries.UserGraphQueries
      .closenessOf(g.undirected.edges, g.vertices)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 4L, 5L, 3500000L), (2L, 4L, 6L, 3000000L),
      (3L, 4L, 4L, 4000000L), (4L, 4L, 6L, 3000000L),
      (5L, 4L, 5L, 3500000L)))
  }

  test("graph_hyperball: fixture neighborhood function matches hand BFS") {
    // All 5 fixture vertices are probes (P=16 > |V|), so nf_probes is
    // the full neighborhood function. Undirected degrees: 1:{2,3,5},
    // 2:{1,3}, 3:{1,2,4,5}, 4:{3,5}, 5:{1,3,4} → NF(1) = Σ(1+deg) =
    // 4+3+5+3+4 = 19; every distance ≤ 2 (same BFS as the closeness
    // test) → NF(2..4) = 5² = 25. The sketch bound must hold trivially
    // at these cardinalities (HLL is exact in its sparse regime).
    val g = fixture
    val out = graft.queries.UserGraphQueries
      .hyperballOf(spark, g.undirected.edges, g.vertices)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((0, 5L, true), (1, 19L, true),
      (2, 25L, true), (3, 25L, true), (4, 25L, true)))
  }

  test("graph_hyperball/eff_diameter: empty graph degenerates to zeros") {
    import spark.implicits._
    val noE = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noV = Seq.empty[(Long, Double)].toDF("id", "value")
    val hb = graft.queries.UserGraphQueries.hyperballOf(spark, noE, noV)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    assert(hb.toSeq === (0 to 4).map(t => (t, 0L, true)))
    val ed = graft.queries.UserGraphQueries.effDiameterOf(spark, noE, noV)
      .collect()(0)
    assert((ed.getLong(0), ed.getLong(1), ed.getInt(2), ed.getLong(3)) ===
      ((0L, 0L, 0, 0L)))
  }

  test("graph_eff_diameter: fixture distances give d_eff=2, mean 1.3") {
    // From the hyperball histogram: dist-0 pairs 5, dist-1 pairs 14
    // (2×7 undirected edges), dist-2 pairs 6 → NF = [5,19,25,25,25].
    // 90% plateau cut: first t with 10·NF(t) ≥ 9·25=225 → t=2. Mean
    // positive distance: (14·1 + 6·2)/20 = 1.3 → ×10⁶ floor 1300000.
    val g = fixture
    val r = graft.queries.UserGraphQueries
      .effDiameterOf(spark, g.undirected.edges, g.vertices).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)) ===
      ((5L, 25L, 2, 1300000L)))
  }

  test("graph_walks: fixture walks match an independent simulation") {
    // Independent reference: drive the same salted-rank argmin with a
    // plain Scala fold over the collected adjacency — the same
    // spec-vs-kernel discipline as stringHashRef.
    val M = 1000000007L
    val g = fixture
    val adj = Fixture.edgeRows.groupBy(_._1)
      .map { case (s0, es) => s0 -> es.map(_._2).sorted }
    val want = scala.collection.mutable.Buffer.empty[(Long, Int, Long)]
    for (v <- Fixture.vertexRows.map(_._1); w <- 0L until 2L) {
      val walkId = v * 2 + w
      var cur = v
      want += ((walkId, 0, cur))
      var t = 1
      var alive = true
      while (t <= 4 && alive) {
        adj.get(cur) match {
          case Some(cands) =>
            cur = cands.minBy(d =>
              ((((walkId * 1009L + t) % M) * 1000003L + d) % M, d))
            want += ((walkId, t, cur)); t += 1
          case None => alive = false
        }
      }
    }
    val got = graft.queries.UserGraphQueries
      .graphWalksOf(g.edges, g.vertices)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("graph_walks: dead ends truncate, walks are partitioning-invariant") {
    import spark.implicits._
    // 1→2→3, 3 has no out-edges: every walk from 1 is (1,2,3) then stops.
    val v = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "value")
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "value")
    def run(parts: Int) = graft.queries.UserGraphQueries
      .graphWalksOf(e.repartition(parts), v.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val one = run(1)
    assert(one === run(7), "walks must not depend on partitioning")
    // Walk 2 (start=1, w=0): steps 0..2 = 1,2,3 then dead end.
    assert(one.filter(_._1 == 2L) === Seq((2L, 0, 1L), (2L, 1, 2L),
      (2L, 2, 3L)))
    // Walks from 3 emit only their start row.
    assert(one.filter(_._1 == 6L) === Seq((6L, 0, 3L)))
  }

  test("graph_walks_biased: fixture walks match an independent " +
    "second-order simulation") {
    val M = 1000000007L
    val g = fixture
    val adjSet = Fixture.edgeRows.map(e => (e._1, e._2)).toSet
    val adj = Fixture.edgeRows.groupBy(_._1)
      .map { case (s0, es) => s0 -> es.map(_._2).sorted }
    val want = scala.collection.mutable.Buffer.empty[(Long, Int, Long)]
    for (v <- Fixture.vertexRows.map(_._1); w <- 0L until 2L) {
      val walkId = v * 2 + w
      var prev = -1L
      var cur = v
      want += ((walkId, 0, cur))
      var t = 1
      var alive = true
      while (t <= 4 && alive) {
        adj.get(cur) match {
          case Some(cands) =>
            val next = cands.minBy { d =>
              val r = (((walkId * 1009L + t) % M) * 1000003L + d) % M
              val m = if (d == prev) 4L
                else if (adjSet.contains((prev, d))) 1L else 2L
              (r * m, d)
            }
            prev = cur; cur = next
            want += ((walkId, t, cur)); t += 1
          case None => alive = false
        }
      }
    }
    val got = graft.queries.UserGraphQueries
      .graphWalksBiasedOf(g.edges, g.vertices)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("graph_walks_biased: the return bias flips a hand-computed choice") {
    import spark.implicits._
    // 1→2, 2⇄{1,3}, 3→2. Walk 2 (start 1) reaches 2 at step 1 with
    // prev=1; step-2 candidates are 1 (return, ×4) and 3 (far, ×2).
    // Hand-computed ranks at t=2: base = (2·1009+2)·1000003 mod M →
    // r(1) = 20006047 < r(3) = 20006049, so the UNBIASED walk returns
    // to 1 — and the bias (r·4 vs r·2) flips it to 3. This is the
    // divergence the fixture graph happens not to exercise.
    val v = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "value")
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0),
      (3L, 2L, 1.0)).toDF("src", "dst", "value")
    def step2(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("walk_id") === 2L && col("step") === 2)
      .collect()(0).getLong(2)
    assert(step2(graft.queries.UserGraphQueries.graphWalksOf(e, v)) === 1L)
    assert(step2(graft.queries.UserGraphQueries
      .graphWalksBiasedOf(e, v)) === 3L)
  }

  test("graph_walk_pairs: skip-gram counts match the hand expansion") {
    import spark.implicits._
    // Same 1→2→3 line graph: both walks from 1 are (1,2,3), both from 2
    // are (2,3), both from 3 are (3). With window 2, each (1,2,3) walk
    // contributes ordered pairs (1,2),(1,3),(2,1),(2,3),(3,1),(3,2);
    // each (2,3) walk contributes (2,3),(3,2). Two walks per start
    // double every count.
    val v = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "value")
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "value")
    val walks = graft.queries.UserGraphQueries.graphWalksOf(e, v)
    val a = walks.select(col("walk_id"), col("step").as("s1"),
      col("vertex").as("center"))
    val b = walks.select(col("walk_id").as("wid2"), col("step").as("s2"),
      col("vertex").as("context"))
    val got = a.join(b, col("walk_id") === col("wid2") &&
        col("s2") =!= col("s1") && abs(col("s2") - col("s1")) <= 2)
      .groupBy(col("center"), col("context")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 1L, 2L),
      (2L, 3L, 4L), (3L, 1L, 2L), (3L, 2L, 4L)))
  }

  test("graph_betweenness: path graph matches hand-run Brandes") {
    import spark.implicits._
    // Path 1-2-3-4, all 4 vertices are sources (BcSources = 4).
    // Ordered pairs through 2: (1,3),(1,4),(3,1),(4,1) → bc_q = 4·10⁶;
    // symmetric for 3; endpoints broker nothing.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "value")
    val v = (1L to 4L).map((_, 0.0)).toDF("id", "value")
    val out = graft.queries.UserGraphQueries.betweennessOf(e, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (1L, 0L, 0.0), (2L, 4000000L, 1.0),
      (3L, 4000000L, 1.0), (4L, 0L, 0.0)))
  }

  test("graph_betweenness: fractional dependencies split across the " +
    "diamond's two shortest paths") {
    import spark.implicits._
    // Square 1-2-4-3-1: σ(1→4) = 2, so 2 and 3 each carry ½ per ordered
    // endpoint pair → every vertex brokers exactly 1 pair-equivalent:
    // bc_q = 10⁶ each, bc = 0.25 (vertex-transitive).
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "value")
    val v = (1L to 4L).map((_, 0.0)).toDF("id", "value")
    val out = graft.queries.UserGraphQueries.betweennessOf(e, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === (1L to 4L).map(i => (i, 1000000L, 0.25)))
  }

  test("graph_knn_curve: hand-computed neighbor-degree means per class") {
    import spark.implicits._
    // Star 1→{2,3,4} plus edge 2-3: degrees 1:3, 2:2, 3:2, 4:1.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
    val e = und.map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "value").repartition(2)
    val out = graft.queries.UserGraphQueries.knnCurveOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // k=1: vertex 4, neighbor 1 (d=3) → knn 3. k=2: vertices 2,3 —
    // endpoints (2→1,3),(3→1,2): degrees 3,2,3,2 → 10/4 = 2.5.
    // k=3: vertex 1, neighbors 2,3,4 → (2+2+1)/3.
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, 3.0), (2L, 2L, 4L, 2.5), (3L, 1L, 3L, q6(5.0 / 3))))
  }

  test("graph_louvain_move: hand-computed gains, argmax ties to the " +
    "smallest neighbor") {
    import spark.implicits._
    // Two triangles joined by bridge 3-4 (modularity spec's graph).
    // 2m = 14; degrees 2,2,3,3,2,2. gain(v,u) = 14 − d_v·d_u.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val ue = (und ++ und.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "value").repartition(3)
    val out = graft.queries.UserGraphQueries.louvainMoveOf(ue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // v3: candidates 1,2 (gain 8) and 4 (gain 5) → tie on 8 picks u=1.
    // v4: candidates 3 (5), 5,6 (8) → picks u=5. (From singleton
    // communities every connected vertex has a positive move — the stay
    // branch is the semantic guard for weighted/degenerate inputs.)
    assert(out.toSeq === Seq(
      (1L, 2L, 10L), (2L, 1L, 10L), (3L, 1L, 8L),
      (4L, 5L, 8L), (5L, 6L, 10L), (6L, 5L, 10L)))
  }

  test("graph_rich_club: hand-built hub club, quantile thresholds, " +
    "NULL below two members") {
    import spark.implicits._
    // Star + clique: hubs 1,2,3 form a triangle AND each hub has two
    // leaves → hub degree 4, leaf degree 1. Degrees ascending:
    // six 1s then three 4s (n=9). Ranks: q50 → rk 5 (d=1), q75 → rk 7
    // (d=4), q90 → rk 8 (d=4).
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (1L, 11L), (1L, 12L), (2L, 13L), (2L, 14L), (3L, 15L), (3L, 16L))
    val e = und.map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "value").repartition(3)
    val out = graft.queries.UserGraphQueries.richClubOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    // q50: k=1 → club {1,2,3}, edges among them = 3 → φ = 6/6 = 1.
    // q75/q90: k=4 → club empty (no degree > 4) → N=0, φ NULL.
    assert(out.toSeq === Seq(
      (50L, 1L, 3L, 3L, 1.0),
      (75L, 4L, 0L, 0L, null),
      (90L, 4L, 0L, 0L, null)))
  }

  test("graph_gnn_sample: fanouts bound, edges real, parent-keyed ranks, " +
    "partitioning-invariant; matches a driver-side model") {
    import spark.implicits._
    // Seed 4 (only id ≡ 0 mod 4) with 5 out-neighbors; hop-1 picks 3 of
    // them; each pick has its own out-neighborhood for hop 2. Vertices
    // 1 and 2 SHARE neighborhood {7,8,9} — the parent-keyed hash must be
    // allowed to sample it differently under each parent.
    val edges = Seq(
      (4L, 1L), (4L, 2L), (4L, 3L), (4L, 5L), (4L, 6L),
      (1L, 7L), (1L, 8L), (1L, 9L),
      (2L, 7L), (2L, 8L), (2L, 9L),
      (3L, 10L), (5L, 11L))
    val v = (1L to 11L).map((_, 0.0)).toDF("id", "value")
    val e = edges.map { case (s0, d) => (s0, d, 1.0) }
      .toDF("src", "dst", "value")
    def run(parts: Int) = graft.queries.UserGraphQueries
      .gnnSampleOf(e.repartition(parts), v.repartition(parts))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    val got = run(1)
    assert(got === run(7), "sample must not depend on partitioning")
    // Driver-side model: same salted-rank formula.
    val M = 1000000007L
    def rnk(seed: Long, hop: Long, parent: Long, dst: Long): Long =
      ((((seed * 1009L + hop) % M) * 1000003L + parent) % M * 1009L
        + dst) % M
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def pick(seed: Long, hop: Long, parent: Long, k: Int): Seq[Long] =
      adj.getOrElse(parent, Nil)
        .sortBy(d => (rnk(seed, hop, parent, d), d)).take(k)
    val h1 = pick(4L, 1, 4L, 3)
    val want =
      h1.zipWithIndex.map { case (d, i) => (4L, 1, 4L, d, i + 1) } ++
        h1.flatMap(p => pick(4L, 2, p, 2).zipWithIndex
          .map { case (d, i) => (4L, 2, p, d, i + 1) })
          .sortBy(x => (x._3, x._5))
    assert(got === want)
    // Structural invariants: every sampled edge is a real edge; hop-1
    // emits exactly 3 rows; ≤2 per hop-2 parent.
    assert(got.forall(g => edges.contains((g._3, g._4))))
    assert(got.count(_._2 == 1) === 3)
    got.filter(_._2 == 2).groupBy(_._3).foreach { case (_, rs) =>
      assert(rs.length <= 2)
    }
  }

  test("graph_kcore: hand-built multi-round cascade peels to the K4 core") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // K4 clique {1,2,3,4}; triangle {5,6,7} hung off 4 via 4-5; pendant
    // 1-8. Round 1 removes 6,7 (deg 2) and 8 (deg 1); round 2 removes 5
    // (deg 1 after its triangle died) — a real 2-round cascade at K=3.
    val simple = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L), (1L, 8L))
      .toDF("a", "b").repartition(3)
    val out = UserGraphQueries.kcorePeelOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((1L, 3L, true), (2L, 3L, true),
      (3L, 3L, true), (4L, 3L, true)))
  }

  test("graph_kcore: zipf derivation + peel invariant under partitioning") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Prime-strided event ids (hash-jitter of small consecutive ids
    // clusters badly — memory pitfall).
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val a = UserGraphQueries.kcoreOf(ev.repartition(1)).collect()
      .map(_.toSeq).toSeq
    val b = UserGraphQueries.kcoreOf(ev.repartition(13)).collect()
      .map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("graph_coreness: hand graph — K4 at 3, hung triangle at 2, " +
    "pendant at 1") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Same graph as the kcore golden: K4 {1,2,3,4}, triangle {5,6,7}
    // hung off 4 via 4-5, pendant 1-8. Hand h-index trace: degrees
    // (4,3,3,4,3,2,2,1) -> round 1 (3,3,3,3,2,2,2,1) -> round 2
    // unchanged = the core numbers.
    val simple = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L), (1L, 8L))
      .toDF("a", "b").repartition(3)
    val out = UserGraphQueries.corenessOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((1L, 3L, true), (2L, 3L, true),
      (3L, 3L, true), (4L, 3L, true), (5L, 2L, true), (6L, 2L, true),
      (7L, 2L, true), (8L, 1L, true)))
  }

  test("graph_tip_decompose: hand bipartite graph — level-4 peel " +
    "cascade, ladder monotonicity, pairless vertex at 0") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Left a=1 b=2 c=3 d=4 e=5; rights 100+. Pair weights by shared
    // rights: (a,b) w=3 -> bf=3; (b,c) w=3 -> bf=3; (c,d) w=4 -> bf=6.
    // Supports: b(a)=3, b(b)=6, b(c)=9, b(d)=6, b(e)=0 (one pairless
    // edge). Level 1: e dies round 1. Level 4 CASCADE: a (3<4) dies
    // round 1; b drops to 3, dies round 2; c holds at 6 >= 4 — the
    // right-mediated invariance (c's (c,d) weight is untouched by the
    // peel above it). Level 16: the {c,d} survivors hold b=6 each and
    // both die round 1. Expected tipness: a,b -> 1; c,d -> 4; e -> 0.
    val ab = (0 until 3).flatMap(i => Seq((1L, 100L + i), (2L, 100L + i)))
    val bc = (0 until 3).flatMap(i => Seq((2L, 200L + i), (3L, 200L + i)))
    val cd = (0 until 4).flatMap(i => Seq((3L, 300L + i), (4L, 300L + i)))
    val e = Seq((5L, 400L))
    val edges = (ab ++ bc ++ cd ++ e).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.tipDecomposeOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((1L, 1L, true), (2L, 1L, true),
      (3L, 4L, true), (4L, 4L, true), (5L, 0L, true)))
  }

  test("graph_tip_decompose: the right-side fan cap excludes hub-" +
    "mediated wedges exactly (the MaxCustFan discipline at toy scale)") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Lefts 1..4 all share hub right 99 (fan 4 > cap 2): uncapped they
    // would form C(4,2) pairs of weight >= 1. The only capped wedges
    // run through rights 100..103, shared by (1,2) with w=4 -> bf=6.
    val hub = (1L to 4L).map(u => (u, 99L))
    val ok = (0 until 4).flatMap(i => Seq((1L, 100L + i), (2L, 100L + i)))
    val edges = (hub ++ ok).toDF("u", "v").repartition(2)
    val out = UserGraphQueries.tipDecomposeOf(edges, fanCap = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // 1 and 2 survive k=4 on the capped frame (bf=6 >= 4, < 16);
    // 3 and 4 lose every wedge to the cap -> tipness 0
    assert(out.toSeq === Seq((1L, 4L, true), (2L, 4L, true),
      (3L, 0L, true), (4L, 0L, true)))
  }

  test("graph_wing_decompose: hand bipartite graph — edge-peel " +
    "cascade at k=4, re-projection after removals, pairless edge at 0") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // x1, x2 share w1..w4 (n_shared 4); x3 shares w1, w2 with both.
    // Supports: (x1,w1)=(x1,w2)=(x2,w1)=(x2,w2)= 3+1 = 4;
    // (x1,w3)=(x1,w4)=(x2,w3)=(x2,w4)= 3; (x3,w1)=(x3,w2)= 1+1 = 2.
    // k=1: all survive (every support >= 1) — one confirming round.
    // k=4 CASCADE: round 1 kills the four support-3 edges and both x3
    // edges; removal drops n_shared(x1,x2) to 2, so the four
    // survivors RE-PROJECT to support 1 and die in round 2 — the
    // edge-peel mutates wedge weights, the exact property that
    // distinguishes wing from tip. x4, x5 share w10..w16 (7 rights):
    // supports 6 — survive k=4 untouched, die at k=16.
    // x6-w99 closes no butterfly: wingness 0.
    val sq = (1 to 4).flatMap(i => Seq((1L, 10L + i), (2L, 10L + i)))
    val x3 = Seq((3L, 11L), (3L, 12L))
    val cl = (0 until 7).flatMap(i => Seq((4L, 100L + i), (5L, 100L + i)))
    val pend = Seq((6L, 99L))
    val edges = (sq ++ x3 ++ cl ++ pend).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.wingDecomposeOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    val expected = (
      sq.map { case (u, v) => (u, v, 1L, true) } ++
      x3.map { case (u, v) => (u, v, 1L, true) } ++
      cl.map { case (u, v) => (u, v, 4L, true) } ++
      pend.map { case (u, v) => (u, v, 0L, true) })
      .sortBy(t => (t._1, t._2))
    assert(out === expected)
  }

  test("graph_wing_decompose: the right-side fan cap excludes " +
    "hub-mediated butterflies exactly") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Lefts 1..4 all share hub 99 (fan 4 > cap 2) — uncapped, every
    // edge pair through the hub would close butterflies with the
    // rights 100..102 wedges. Capped, only (1,2) via rights 100..102
    // survive: supports 2 each (n_shared 3 - 1), so they hold k=1
    // (and die at k=4); hub edges leave the frame entirely.
    val hub = (1L to 4L).map(u => (u, 99L))
    val ok = (0 until 3).flatMap(i => Seq((1L, 100L + i), (2L, 100L + i)))
    val edges = (hub ++ ok).toDF("u", "v").repartition(2)
    val out = UserGraphQueries.wingDecomposeOf(edges, fanCap = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(out === ok.map { case (u, v) => (u, v, 1L, true) }
      .sortBy(t => (t._1, t._2)))
  }

  test("graph_coreness: coreness >= K agrees with the K-core peel on " +
    "the zipf tier; invariant under partitioning") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val simple = UserGraphQueries.zipfEdgesOf(ev).localCheckpoint()
    val cor = UserGraphQueries.corenessOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(cor.forall(_._3), "h-index iteration must converge")
    // multi-level histogram (the non-degeneracy gate): >= 3 levels
    assert(cor.map(_._2).distinct.length >= 3)
    val coreMembers = UserGraphQueries.kcorePeelOf(simple).collect()
      .map(_.getLong(0)).toSet
    assert(cor.filter(_._2 >= 3L).map(_._1).toSet === coreMembers)
    val b = UserGraphQueries.corenessOf(simple.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(cor.toSeq === b.toSeq)
  }

  test("graph_trussness: hand graph — K5 edges are 5-truss, a pendant " +
    "triangle is 3-truss, bridges and pendants are 2") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // K5 on {1..5} (every edge in 3 triangles -> trussness 5), a bridge
    // (5,6) in no triangle (2), a triangle {6,7,8} (3 each), and a
    // pendant (8,9) (2).
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val simple = (k5 ++ Seq((5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L),
      (8L, 9L))).toDF("a", "b").repartition(3)
    val out = UserGraphQueries.trussnessOf(simple).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2),
        r.getBoolean(3)))
    assert(out.forall(_._3), "must converge")
    val m = out.map(v => v._1 -> v._2).toMap
    k5.foreach(e => assert(m(e) === 5L, s"K5 edge $e"))
    assert(m((5L, 6L)) === 2L)
    assert(m((6L, 7L)) === 3L && m((6L, 8L)) === 3L && m((7L, 8L)) === 3L)
    assert(m((8L, 9L)) === 2L)
  }

  test("graph_trussness: zipf tier — class counts reproduce the X114 " +
    "leveled peel, trussness <= min endpoint coreness + 1, " +
    "deterministic") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val simple = UserGraphQueries.zipfEdgesOf(ev).localCheckpoint()
    val out = UserGraphQueries.trussnessOf(simple).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2),
        r.getBoolean(3)))
    assert(out.forall(_._3), "h-index iteration must converge")
    // cross-operator: histogram of min(trussness, 4) == the leveled
    // peel's {2, 3, 4+} classes (X114 computes the SAME decomposition
    // through a different fixpoint)
    val hist = out.groupBy(v => math.min(v._2, 4L))
      .map { case (k, vs) => (k, vs.length.toLong) }
    val peel = UserGraphQueries.trussDecomposeOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((2L to 4L).forall(k => hist.getOrElse(k, 0L) === peel(k)),
      s"hist=$hist peel=$peel")
    // a k-truss lives in the (k-1)-core: trussness(e) <= min coreness+1
    val cor = UserGraphQueries.corenessOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.forall(v =>
      v._2 <= math.min(cor(v._1._1), cor(v._1._2)) + 1L))
    val b = UserGraphQueries.trussnessOf(simple.repartition(13))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq === b.toSeq)
  }

  test("graph_partition: 8 isolated edges coarsen to 8 singleton parts " +
    "with zero cut") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Every isolated edge is trivially locally dominant -> level-1
    // matching contracts each to one super-vertex of weight 2; level 2
    // has no edges; striping gives the 8 super-vertices one part each;
    // refinement no-ops (no edges). Fully hand-computable: per-part
    // size 2, cut 0, balance 2*8*1e6/16 = 1000000 exactly.
    val simple = (0L until 8L).map(i => (i * 2 + 1, i * 2 + 2))
      .toDF("a", "b").repartition(3)
    val out = UserGraphQueries.partitionOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.length === 8)
    assert(out.forall(v => v._2 == 2L && v._3 == 0L &&
      v._4 == 1000000L && v._5))
  }

  test("graph_partition: invariants + determinism on the zipf tier") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val simple = UserGraphQueries.zipfEdgesOf(ev).localCheckpoint()
    val nV = simple.select(col("a").as("v"))
      .unionByName(simple.select(col("b").as("v"))).distinct().count()
    val nE = simple.count()
    val out = UserGraphQueries.partitionOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.map(_._2).sum === nV, "part sizes partition the vertices")
    assert(out.forall(_._3 < nE), "refined cut strictly below |E|")
    assert(out.forall(_._5), "matchings must drain")
    assert(out.map(_._4).distinct.length === 1)
    val b = UserGraphQueries.partitionOf(simple.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.toSeq === b.toSeq)
  }

  test("stripeByRank: distributed rank == the row_number window form, " +
    "independent of input partitioning") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.expressions.Window
    // weights with heavy ties (the window form's tiebreak on v must be
    // reproduced exactly) over ids strided by a prime
    val wv = (0L until 257L).map(i => (i * 7919L % 1000L, (i * i) % 7L))
      .toDF("v", "w")
    val win = wv.select(col("v"),
      ((row_number().over(Window.orderBy(col("w").desc, col("v")))
        .cast("long") - 1L) % 8).as("part"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = UserGraphQueries.stripeByRank(wv, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === win)
    val got13 = UserGraphQueries.stripeByRank(wv.repartition(13), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got13 === win)
  }

  test("graph_partition2d: single edge gives RF exactly 1; zipf tier " +
    "holds the 2-sqrt-N span bound; deterministic") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // One edge -> one cell, both endpoints span 1 cell: rf = 1e6
    // exactly, max_span 1, cell imbalance 16e6/1 — hash-independent.
    val one = Seq((3L, 9L)).toDF("a", "b")
    val o = UserGraphQueries.partition2dOf(one).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))
    assert(o.toSeq === Seq((1L, 1000000L, 1L, true, 16000000L)))
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val simple = UserGraphQueries.zipfEdgesOf(ev).localCheckpoint()
    val a = UserGraphQueries.partition2dOf(simple).collect().map(_.toSeq)
    assert(a.forall(r => r(4) == true), "span bound 2*sqrt(N) must hold")
    assert(a.map(_(1).asInstanceOf[Long]).sum === simple.count(),
      "cells partition the edges")
    val b = UserGraphQueries.partition2dOf(simple.repartition(13))
      .collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("cross-key invariant: k-truss edge mass is bounded by the " +
    "(k-1)-core on the zipf tier") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Classic containment: every edge of the k-truss lies inside the
    // (k-1)-core, so the truss histogram's >= k mass can never exceed
    // the count of edges whose BOTH endpoints have coreness >= k-1 —
    // a consistency check ACROSS two independently-oracled operators
    // (X114's oriented triangle peel vs X169's h-index fixpoint).
    val ev = (0L until 1500L).map(i => Tuple1(i * 7919L + 13L))
      .toDF("event_id")
    val simple = UserGraphQueries.zipfEdgesOf(ev).localCheckpoint()
    val truss = UserGraphQueries.trussDecomposeOf(simple).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val core = UserGraphQueries.corenessOf(simple).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = simple.collect().map(r => (r.getLong(0), r.getLong(1)))
    for (k <- Seq(3L, 4L)) {
      val trussGe = truss.filter(_._1 >= k).values.sum
      val coreEdges = edges.count { case (a, b) =>
        math.min(core(a), core(b)) >= k - 1
      }
      assert(trussGe <= coreEdges, s"k=$k: $trussGe !<= $coreEdges")
    }
    // and the histogram covers every edge exactly once
    assert(truss.values.sum === edges.length.toLong)
  }

  test("graph_truss_decompose: hand-built graph with a level-4 cascade") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // K4 {1,2,3,4}: every edge closes 2 triangles -> trussness 4 (cap).
    // Bowtie {5,6,7}+{5,7,8}: edge 5-7 closes 2 triangles but its
    // supports die in level-4 round 1, killing it in round 2 — a real
    // multi-round edge cascade; all five edges land at trussness 3.
    // Bridge 4-5: no triangle -> trussness 2.
    val simple = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L), (5L, 8L),
      (4L, 5L)).toDF("a", "b").repartition(3)
    val out = UserGraphQueries.trussDecomposeOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((2L, 1L, true), (3L, 5L, true),
      (4L, 6L, true)))
  }

  test("graph_rich_club_fixed: K6 plus pendant gives phi=1 at k=4, " +
    "NULL above") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val k6 = for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b)
    val simple = (k6 :+ ((1L, 7L))).toDF("a", "b").repartition(3)
    val out = UserGraphQueries.richClubFixedOf(simple).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    // deg: 1 -> 6, 2..6 -> 5, 7 -> 1. k=4 club = {1..6}, all 15 clique
    // edges inside (the pendant edge has an endpoint below the bar).
    assert(out.toSeq === Seq((4L, 6L, 15L, 1.0), (8L, 0L, 0L, null),
      (16L, 0L, 0L, null), (32L, 0L, 0L, null)))
  }

  test("graph_scc_pivot: hand-built cycle splits into all four FW-BW " +
    "classes") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Cycle 1->2->3->1 (the pivot SCC), 3->4 (forward-only),
    // 5->1 (backward-only), 6->7 (unreachable either way).
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L),
      (6L, 7L)).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.sccPivotOf(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq === Seq(("bwd_only", 1L, 1L, true),
      ("fwd_only", 1L, 1L, true), ("rest", 2L, 1L, true),
      ("scc", 3L, 1L, true)))
  }

  test("graph_louvain_passes: two bridged 4-cliques resolve to the two " +
    "true communities") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Parity-mixed cliques {1,2,3,4} and {5,6,7,8} with bridge 4-5;
    // simulated: converges by round 4 (moves 4/2/1/0) to labels 2 and 6.
    val c1 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val c2 = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L))
    val half = c1 ++ c2 :+ ((4L, 5L))
    val e = (half ++ half.map(_.swap)).toDF("src", "dst").repartition(3)
    val out = UserGraphQueries.louvainPassesOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 4L), (2L, 2L, 4L), (3L, 2L, 4L),
      (4L, 2L, 4L), (5L, 6L, 4L), (6L, 6L, 4L), (7L, 6L, 4L),
      (8L, 6L, 4L)))
  }

  test("graph_degree_gini: star reads high, cycle reads exactly 0") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // 5-cycle: all degrees 2 -> gini exactly 0, top1 = 2/10.
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
      .toDF("a", "b").repartition(2)
    val c = UserGraphQueries.degreeGiniOf(cyc).collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ===
      ((5L, 10L, 0L, 200000L)))
    // star K1,4: degrees 4,1,1,1,1; sorted i*d = 1+2+3+4+20=30;
    // gini = (60 - 6*8)*1e6 div (5*8) = 300000; top1 = 500000.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("a", "b").repartition(2)
    val st = UserGraphQueries.degreeGiniOf(star).collect()(0)
    assert((st.getLong(0), st.getLong(1), st.getLong(2),
      st.getLong(3)) === ((5L, 8L, 300000L, 500000L)))
  }

  test("graph_coloring: JP == sequential greedy on hand graphs " +
    "(priority-injected), contract row pins the mex/conflict/MIS facts") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions.{col => c, lit}
    // Path 1-2-3-4-5 with priorities = id REVERSED (6-v): greedy order
    // 5,4,3,2,1 -> colors 0,1,0,1,0; JP resolves it in 5 sequential
    // rounds (a priority chain — the depth hazard the contract gate
    // exists for). n_color0 = |{5,3,1}| = 3 = the greedy MIS.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b").repartition(3)
    val out = UserGraphQueries.coloringOf(path, Some(v => lit(6L) - v))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    assert(out.toSeq === Seq((5L, 4L, 5L, 0L, 3L, true, true)))
    // Triangle: forced 3 colors, exactly one color-0 vertex.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val t = UserGraphQueries.coloringOf(tri, Some(v => v)).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    assert(t.toSeq === Seq((3L, 3L, 0L, 1L, true)))
    // Empty graph degrades to the zero row, converged.
    val z = UserGraphQueries.coloringOf(
      Seq.empty[(Long, Long)].toDF("a", "b"), Some(v => v)).collect()
    assert(z.length === 1 && z(0).getLong(0) === 0L &&
      z(0).getBoolean(5))
  }

  test("graph_louvain_full: mutual-best-merge pass merges the triple-" +
    "bridged clique pairs, stops at the weak bridge; audit is monotone") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Four 3-cliques A={1,2,3} B={4,5,6} C={7,8,9} D={10,11,12};
    // triple bridges inside the pairs (A-B, C-D), ONE weak B-C bridge.
    // Simulated (tools/sim_louvain_full.py arithmetic): with lab1 =
    // clique labels, round 1 applies the two mutual merges (A<-B, C<-D
    // at gain 38*3-9*10=24 each), round 2 finds none (merged-pair gain
    // 38*1-19*19<0) and stops; q_num = -122 / 550 / 646 across passes.
    val half = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L, 4L -> 6L,
      5L -> 6L, 7L -> 8L, 7L -> 9L, 8L -> 9L, 10L -> 11L, 10L -> 12L,
      11L -> 12L, 1L -> 4L, 2L -> 5L, 3L -> 6L, 7L -> 10L, 8L -> 11L,
      9L -> 12L, 6L -> 7L)
    val e = (half ++ half.map(_.swap)).toDF("src", "dst").repartition(3)
    val lab1 = Seq(1L, 2L, 3L).map(_ -> 1L) ++
      Seq(4L, 5L, 6L).map(_ -> 4L) ++ Seq(7L, 8L, 9L).map(_ -> 7L) ++
      Seq(10L, 11L, 12L).map(_ -> 10L)
    val l1 = lab1.toDF("id", "lab").repartition(3)
    val mgDf = UserGraphQueries.louvainMergeLoopOf(e, l1)
    val mg = mgDf.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mg.toSeq === Seq((1L, 1L), (4L, 1L), (7L, 7L), (10L, 7L)))
    val full = UserGraphQueries.louvainComposeOf(l1, mgDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq === (1L to 6L).map((_, 1L, 6L)) ++
      (7L to 12L).map((_, 7L, 6L)))
    val audit = UserGraphQueries.louvainAuditOf(e, l1, mgDf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(audit.toSeq === Seq((0, 12L, -122L), (1, 4L, 550L),
      (2, 2L, 646L)))
  }

  test("graph_louvain_full == graph_louvain_passes when no merge is " +
    "positive (bridged 4-cliques: merged-pair gain 26-169 < 0)") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val c1 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val c2 = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L))
    val half = c1 ++ c2 :+ ((4L, 5L))
    val e = (half ++ half.map(_.swap)).toDF("src", "dst").repartition(3)
    val lab1 = UserGraphQueries.louvainMoveLoopOf(e)
    val full = UserGraphQueries
      .louvainComposeOf(lab1, UserGraphQueries.louvainMergeLoopOf(e, lab1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val passes = UserGraphQueries.louvainPassesOf(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq === passes.toSeq)
  }

  test("graph_scc_labels: trim singletons + root SCC in peel 1, " +
    "non-root SCC needs peel 2") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // SCC {1,2} (color-class root), SCC {5,6} reachable from 1 (same
    // color class but NOT the root -> only resolvable in peel 2), and
    // a dangling chain 7->8->9->5 (trim fodder: no in-edges).
    val e = Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (1L, 5L),
      (7L, 8L), (8L, 9L), (9L, 5L)).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.sccLabelsOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq === Seq((1L, 1L, 2L, true), (2L, 1L, 2L, true),
      (5L, 5L, 2L, true), (6L, 5L, 2L, true), (7L, 7L, 1L, true),
      (8L, 8L, 1L, true), (9L, 9L, 1L, true)))
  }

  test("graph_scc_labels: a color phase stopped at its cap leaves the " +
    "core unlabeled and complete = false") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // the 8-cycle 1 -> 2 -> ... -> 8 -> 1 is one SCC whose min-ancestor
    // labels need more than 2 fused rounds; the tail 9 -> 1 trims away
    val e = ((1L to 8L).map(i => (i, i % 8 + 1)) :+ ((9L, 1L)))
      .toDF("u", "v").repartition(3)
    def run(colorRounds: Int) = UserGraphQueries.sccLabelsOf(e, colorRounds)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
      .toSeq
    assert(run(2) === (1L to 8L).map(i => (i, None, false)) :+
      ((9L, Some(9L), false)))
    assert(run(10) === (1L to 8L).map(i => (i, Some(1L), true)) :+
      ((9L, Some(9L), true)))
  }

  test("graph_scc_labels: a flag phase stopped at its cap leaves the " +
    "core unlabeled and complete = false") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // the 40-cycle 1 -> 2 -> ... -> 40 -> 1 trims to nothing and colors
    // in at most 8 fused rounds, but root 1 reaches back to 2 only after
    // 39 flag steps, over the flag cap of 16
    val e = (1L to 40L).map(i => (i, i % 40 + 1)).toDF("u", "v")
      .repartition(3)
    val out = UserGraphQueries.sccLabelsOf(e).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(3))).toSeq
    assert(out === (1L to 40L).map(i => (i, None, false)))
  }

  /** Tarjan's SCCs of `edges` over `ids`: each id's SCC, named by its
    * min member.
    */
  private def tarjan(ids: Seq[Long], edges: Seq[(Long, Long)]) = {
    val out = edges.groupMap(_._1)(_._2)
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val label = scala.collection.mutable.Map.empty[Long, Long]
    def visit(v: Long): Unit = {
      index(v) = index.size; low(v) = index(v); stack.push(v)
      for (w <- out.getOrElse(v, Nil)) {
        if (!index.contains(w)) { visit(w); low(v) = low(v) min low(w) }
        else if (stack.contains(w)) low(v) = low(v) min index(w)
      }
      if (low(v) == index(v)) {
        val scc = Iterator.continually(stack.pop())
          .takeWhile(_ != v).toSeq :+ v
        scc.foreach(label(_) = scc.min)
      }
    }
    ids.foreach(v => if (!index.contains(v)) visit(v))
    label.toMap
  }

  test("graph_scc_labels: labels equal Tarjan's SCCs, named by their " +
    "min member, on random directed graphs and their layered tier") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // a run that stops at a cap leaves some labels null and reports
    // complete = false; every label it gives must still be Tarjan's
    val complete = for {
      seed <- 1 to 4
      r = new scala.util.Random(seed)
      base = Seq.fill(90)((r.nextInt(60).toLong, r.nextInt(60).toLong))
        .filter { case (u, v) => u != v }.distinct.toDF("u", "v")
      (tier, e) <- Seq("base" -> base,
        "layered" -> UserGraphQueries.layeredDirectedOf(base))
    } yield {
      val edges = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val ids = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
      val out = UserGraphQueries.sccLabelsOf(e).collect()
      val labels = out.filter(!_.isNullAt(1))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truth = tarjan(ids, edges)
      assert(labels.forall { case (id, l) => truth(id) == l },
        s"seed $seed $tier")
      val done = out.forall(_.getBoolean(3))
      assert(done === (labels.size == ids.size), s"seed $seed $tier")
      tier -> done
    }
    // both tiers resolve every vertex on some seed
    assert(complete.filter(_._2).map(_._1).toSet === Set("base", "layered"))
  }

  test("graph_scc_layered: the shifted-copy derivation plus one-way " +
    "bridges forces the layer-2 SCC into peel 2 (hand graph)") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Base: a 3-cycle 1->2->3->1 (the giant core stand-in) plus a
    // trim-fodder tail 9->1. Layered adds the shifted 3-cycle
    // (+131072) and bridges from vertices whose lbr-hash % 4 == 0.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 1L))
      .toDF("u", "v").repartition(3)
    val lay = UserGraphQueries.layeredDirectedOf(base)
    val off = 131072L
    val edges = lay.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // shifted copy present, direction preserved
    assert(edges.contains((1L + off, 2L + off)) &&
      edges.contains((9L + off, 1L + off)))
    // bridges: exactly the lbr-hash-selected subset — of {1,2,3,9}
    // only vertex 2 hashes to 0 mod 4 (stringHash("lbr:2") % 4 == 0),
    // so the single bridge 2 -> 2+off ties the cycles one-way and the
    // shifted cycle becomes the non-root SCC that needs peel 2
    val bridged = edges.collect {
      case (u, v) if v == u + off => u
    }
    assert(bridged.toSet === Set(2L))
    assert(!edges.exists { case (u, v) => u == v + off }) // never back
    // end-to-end: both cycles resolve as SCCs (the shifted one in
    // peel 2), labels = min member, complete = true
    val out = UserGraphQueries.sccLabelsOf(lay).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(out.forall(_._3), "multi-peel run must complete")
    val labelOf = out.map(t => t._1 -> t._2).toMap
    assert(Seq(1L, 2L, 3L).forall(labelOf(_) == 1L))
    assert(Seq(1L + off, 2L + off, 3L + off).forall(labelOf(_) == 1L + off))
    assert(labelOf(9L) == 9L && labelOf(9L + off) == 9L + off)
  }

  test("graph_scc_condensation: DAG over the 2-peel hand graph, no " +
    "back-edges") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Same graph as the scc_labels test: SCCs {1,2}->1, {5,6}->5,
    // singletons 7,8,9. Cross-SCC edges: 1->5, 7->8, 8->9, 9->5.
    val e = Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (1L, 5L),
      (7L, 8L), (8L, 9L), (9L, 5L)).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.sccCondensationOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 5L, 1L), (7L, 8L, 1L), (8L, 9L, 1L),
      (9L, 5L, 1L)))
    // acyclic: no ordered pair appears in both directions
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.forall { case (a, b) => !pairs.contains((b, a)) })
  }

  test("graph_topo_layers: longest-path layering of the hand DAG") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Condensation DAG of the 2-peel graph: 1->5, 7->8->9->5.
    // Longest-path layers: {1,7}: 0, 8: 1, 9: 2, 5: 3 (max of the two
    // paths into 5 — the 1-hop path must NOT win).
    val e = Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (1L, 5L),
      (7L, 8L), (8L, 9L), (9L, 5L)).toDF("u", "v").repartition(3)
    val out = UserGraphQueries.topoLayersOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq === Seq((1L, 0L, 2L, true), (5L, 3L, 2L, true),
      (7L, 0L, 1L, true), (8L, 1L, 1L, true), (9L, 2L, 1L, true)))
  }

  test("graph_scc_labels: empty edge frame degrades to typed empty " +
    "output") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val out = UserGraphQueries.sccLabelsOf(
      Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(out.columns.toSeq === Seq("id", "scc_id", "scc_size",
      "complete"))
    assert(out.count() === 0L)
  }

  test("graph_topo_layers + louvain_passes: empty edge frames degrade " +
    "to typed empty output") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val e = Seq.empty[(Long, Long)].toDF("u", "v")
    val tp = UserGraphQueries.topoLayersOf(e)
    assert(tp.columns.toSeq === Seq("scc_id", "layer", "n_members",
      "converged"))
    assert(tp.count() === 0L)
    val lv = UserGraphQueries.louvainPassesOf(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(lv.columns.toSeq === Seq("id", "community", "comm_size"))
    assert(lv.count() === 0L)
  }

  test("graph_scc_pivot: empty edge frame degrades to typed empty " +
    "output (ADVICE r10)") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    val e = Seq.empty[(Long, Long)].toDF("u", "v")
    val out = UserGraphQueries.sccPivotOf(e)
    assert(out.columns.toSeq ===
      Seq("cls", "n_vertices", "pivot", "converged"))
    assert(out.count() === 0L)
  }

  test("graph_temporal_reach: time-respecting constraint and the " +
    "improve-then-re-enable cascade on the hand contact graph") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Pivot = 1 (min id). r1: arr(2)=10, arr(3)=25 (direct). r2:
    // arr(3) IMPROVES 25→12 via 2 (t=12 ≥ 10; the t=5 contact is
    // time-rejected). r3: the improvement re-enables (3,4,14)
    // (14 ≥ 12 but 14 < 25) → arr(4)=14. 5 (only an in-edge to the
    // pivot) and 6,7 stay unreachable.
    val te = Seq((1L, 2L, 10L), (1L, 3L, 25L), (2L, 3L, 12L),
      (2L, 3L, 5L), (3L, 4L, 14L), (5L, 1L, 50L), (6L, 7L, 99L))
      .toDF("u", "v", "t").repartition(3)
    val out = UserGraphQueries.temporalReachOf(te).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq((1L, 0L, true), (2L, 10L, true),
      (3L, 12L, true), (4L, 14L, true)))
  }

  test("graph_temporal_reach: zipf derivation invariant under " +
    "partitioning; empty frame degrades to typed empty output") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions._
    // Prime-strided event ids (hash-jitter pitfall) with spread-out
    // deterministic timestamps.
    val ev = (0L until 1500L).map { i =>
      (i * 7919L + 13L, 1700000000000000L + (i * 2654435761L) % 86400000000L)
    }.toDF("event_id", "tus")
      .select(col("event_id"), timestamp_micros(col("tus")).as("ts"))
    def run(p: Int) = UserGraphQueries.temporalReachOf(
      UserGraphQueries.zipfTemporalEdgesOf(ev.repartition(p)))
      .collect().map(_.toSeq).toSeq
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
    val empty = UserGraphQueries.temporalReachOf(
      Seq.empty[(Long, Long, Long)].toDF("u", "v", "t"))
    assert(empty.columns.toSeq === Seq("id", "arr_us", "converged"))
    assert(empty.count() === 0L)
  }

  // Pack helper matching mstWeightedOf's total-order key.
  private def mstPack(a: Long, b: Long, w: Long): (Long, Long, Long) =
    (a, b, w * 4294967296L + a * 65536L + b)

  private def runMst(edges: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    UserGraphQueries.mstBoruvkaOf(
      edges.map { case (a, b, w) => mstPack(a, b, w) }.toDF("a", "b", "p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
  }

  test("graph_mst_boruvka: two-round contraction — pair components " +
    "merge first, the heavy bridge joins in round two") {
    // c{1,2} and c{3,4} form in round 1 (weights 5, 7); the w=100
    // bridge is each merged component's only cross edge in round 2.
    val out = runMst(Seq((1L, 2L, 5L), (3L, 4L, 7L), (2L, 3L, 100L)))
    assert(out === Seq((1L, 2L, 5L, true), (2L, 3L, 100L, true),
      (3L, 4L, 7L, true)))
  }

  test("graph_mst_boruvka: increasing-weight path hooks a depth-7 " +
    "pointer chain resolved by the doubling passes in one round") {
    val path = (1L to 7L).map(i => (i, i + 1, i))
    val out = runMst(path)
    assert(out === path.map { case (a, b, w) => (a, b, w, true) })
  }

  test("graph_mst_boruvka: cycle drops its heaviest edge; " +
    "disconnected forest keeps |V| - comps edges") {
    // Triangle 1-2-3 (drop w=30) plus a separate pair 10-11.
    val out = runMst(Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 30L),
      (10L, 11L, 4L)))
    assert(out === Seq((1L, 2L, 10L, true), (2L, 3L, 20L, true),
      (10L, 11L, 4L, true)))
  }

  test("graph_mst_boruvka: zipf derivation invariant under " +
    "partitioning; empty frame degrades to typed empty output") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions._
    val ev = (0L until 1500L).map(i => i * 7919L + 13L).toDF("event_id")
    def run(p: Int) = {
      val can = UserGraphQueries.zipfEdgesOf(ev.repartition(p))
      UserGraphQueries.mstBoruvkaOf(UserGraphQueries.mstWeightedOf(can))
        .collect().map(_.toSeq).toSeq
    }
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
    assert(a.forall(_.last === true))
    val empty = UserGraphQueries.mstBoruvkaOf(
      Seq.empty[(Long, Long, Long)].toDF("a", "b", "p"))
    assert(empty.columns.toSeq === Seq("a", "b", "w", "converged"))
    assert(empty.count() === 0L)
  }

  private def runMatch(edges: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    UserGraphQueries.matchingOf(
      edges.map { case (a, b, w) => mstPack(a, b, w) }.toDF("a", "b", "p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
  }

  test("graph_matching: heavy middle edge beats both neighbors; " +
    "retired neighbor re-enables the tail edge in round two") {
    // (2,3,9) dominates round 1 and retires (1,2)/(3,4); (4,5,7)
    // becomes locally dominant only in round 2.
    val out = runMatch(Seq((1L, 2L, 5L), (2L, 3L, 9L), (3L, 4L, 8L),
      (4L, 5L, 7L)))
    assert(out === Seq((2L, 3L, 9L, 1L, true), (4L, 5L, 7L, 2L, true)))
  }

  test("graph_matching: zipf derivation invariant under partitioning; " +
    "matching is a matching and maximal; empty frame degrades") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions._
    val ev = (0L until 1500L).map(i => i * 7919L + 13L).toDF("event_id")
    def run(p: Int) = UserGraphQueries.matchingOf(
      UserGraphQueries.matchWeightedOf(
        UserGraphQueries.zipfEdgesOf(ev.repartition(p))))
      .collect().map(_.toSeq).toSeq
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
    assert(a.forall(_.last === true))
    // Matching: no vertex twice; maximal: every edge touches a match.
    val mv = a.flatMap(r => Seq(r(0).asInstanceOf[Long],
      r(1).asInstanceOf[Long]))
    assert(mv.distinct.size === mv.size)
    val mset = mv.toSet
    val can = UserGraphQueries.zipfEdgesOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(can.forall { case (x, y) => mset(x) || mset(y) })
    val empty = UserGraphQueries.matchingOf(
      Seq.empty[(Long, Long, Long)].toDF("a", "b", "p"))
    assert(empty.columns.toSeq ===
      Seq("a", "b", "w", "round", "converged"))
    assert(empty.count() === 0L)
  }

  test("graph_densest_subgraph: peel sheds the path tail and surfaces " +
    "the K4 core as the best state") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // K4 on 1-4 (density 1.5) + path 4-5-6-7; initial density 9/7.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val out = UserGraphQueries.densestOf(edges.toDF("a", "b")
      .repartition(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq === (1L to 4L).map(v =>
      (v, 3L, 4L, 6L, 1500000000L, true)))
  }

  test("graph_densest_subgraph: zipf derivation invariant under " +
    "partitioning; density audit holds; empty frame degrades") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions._
    val ev = (0L until 1500L).map(i => i * 7919L + 13L).toDF("event_id")
    def run(p: Int) = UserGraphQueries.densestOf(
      UserGraphQueries.zipfEdgesOf(ev.repartition(p)))
      .collect().map(_.toSeq).toSeq
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
    assert(a.forall(_.last === true))
    // Audit: nv = row count; ne = half the in-state degree sum;
    // density matches the published quantized grid.
    val nv = a.head(2).asInstanceOf[Long]
    val ne = a.head(3).asInstanceOf[Long]
    assert(nv === a.size.toLong)
    assert(2L * ne === a.map(_(1).asInstanceOf[Long]).sum)
    assert(a.head(4) === ne * 1000000000L / nv)
    val empty = UserGraphQueries.densestOf(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(empty.columns.toSeq ===
      Seq("id", "deg_in", "nv", "ne", "density_e9", "converged"))
    assert(empty.count() === 0L)
  }

  test("graph_percolation_curve: hand Kruskal staircase; component " +
    "count at a mid threshold equals an independent ccFold run") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import graft.streaming.Streams
    // V = 6 (vertex 4,5,6 join late/never below τ), E = 5.
    val hand = Seq((1L, 2L, 10L), (1L, 3L, 15L), (2L, 3L, 20L),
      (5L, 6L, 25L), (3L, 4L, 30L))
    val wedges = hand.map { case (a, b, w) => (a, b, w) }
      .toDF("a", "b", "w").repartition(3)
    val msf = UserGraphQueries.mstBoruvkaOf(
      hand.map { case (a, b, w) => mstPack(a, b, w) }
        .toDF("a", "b", "p"))
    val out = UserGraphQueries.percolationOf(wedges, msf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, 10L, 1L, 1L, 5L), (2L, 10L, 1L, 1L, 5L),
      (3L, 15L, 2L, 2L, 4L), (4L, 15L, 2L, 2L, 4L),
      (5L, 20L, 3L, 2L, 4L), (6L, 20L, 3L, 2L, 4L),
      (7L, 25L, 4L, 3L, 3L), (8L, 25L, 4L, 3L, 3L),
      (9L, 30L, 5L, 4L, 2L), (10L, 30L, 5L, 4L, 2L)))
    // Invariant vs an independent CC run at τ = 20: components among
    // covered vertices + isolated tier vertices must equal the curve.
    val sub = hand.filter(_._3 <= 20L).map(e => (e._1, e._2))
      .toDF("u", "v")
    val (labels, ok) = Streams.ccFold(Streams.ccEmptyState(spark), sub)
    assert(ok)
    val covered = labels.collect()
    val comps = covered.map(_.getLong(1)).distinct.length
    val isolated = 6 - covered.length
    assert((comps + isolated).toLong ===
      out.find(_._2 === 20L).get._5)
  }

  private def runMis(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Identity priority: selection order is plain id order.
    UserGraphQueries.misOf(edges.toDF("a", "b"), v => v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
  }

  test("graph_mis: monotone path activates progressively — one local " +
    "minimum per round as removals expose the next") {
    val out = runMis((1L to 5L).map(i => (i, i + 1)))
    assert(out === Seq((1L, 1L, true), (3L, 2L, true), (5L, 3L, true)))
  }

  test("graph_mis: min-priority star center wins alone; max-priority " +
    "center yields all leaves in one round") {
    val minC = runMis(Seq((1L, 5L), (1L, 6L), (1L, 7L)))
    assert(minC === Seq((1L, 1L, true)))
    val maxC = runMis(Seq((9L, 2L), (9L, 3L), (9L, 4L)))
    assert(maxC === Seq((2L, 1L, true), (3L, 1L, true), (4L, 1L, true)))
  }

  test("graph_mis: zipf derivation invariant under partitioning; " +
    "result is independent and maximal; empty frame degrades") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    import org.apache.spark.sql.functions._
    val ev = (0L until 1500L).map(i => i * 7919L + 13L).toDF("event_id")
    def run(p: Int) = UserGraphQueries.misOf(
      UserGraphQueries.zipfEdgesOf(ev.repartition(p)))
      .collect().map(_.toSeq).toSeq
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
    assert(a.forall(_.last === true))
    // Independence + maximality against the edge list.
    val can = UserGraphQueries.zipfEdgesOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mis = a.map(_.head.asInstanceOf[Long]).toSet
    assert(can.forall { case (x, y) => !(mis(x) && mis(y)) })
    val blocked: Map[Long, Seq[Long]] = can.toSeq.flatMap { case (x, y) =>
      Seq(x -> y, y -> x) }.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2) }
    val verts = can.flatMap(e => Seq(e._1, e._2)).toSet
    assert(verts.forall(v =>
      mis(v) || blocked.getOrElse(v, Seq.empty).exists(mis)))
    val empty = UserGraphQueries.misOf(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(empty.columns.toSeq === Seq("id", "round", "converged"))
    assert(empty.count() === 0L)
  }

  test("graph_leiden_refine: a deliberately disconnected community " +
    "splits into its connected parts; connected and singleton " +
    "communities certify n_parts = 1") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // Community 100 holds two islands {1,2} and {10,11} whose only
    // connections run THROUGH community 200 (the Louvain
    // disconnected-community failure mode Leiden's refinement exists
    // for); 200 is a connected pair; 300 is an edgeless singleton;
    // 400 is a 5-vertex path (multi-round min-label propagation).
    val labs = Seq(1L -> 100L, 2L -> 100L, 10L -> 100L, 11L -> 100L,
      5L -> 200L, 6L -> 200L, 7L -> 300L,
      20L -> 400L, 21L -> 400L, 22L -> 400L, 23L -> 400L, 24L -> 400L)
      .toDF("id", "lab")
    val dir = Seq((1L, 2L), (10L, 11L), (5L, 6L), (1L, 5L), (10L, 6L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 24L))
    val ue = (dir ++ dir.map(_.swap)).toDF("src", "dst")
    val out = UserGraphQueries.leidenRefineOf(ue, labs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(out === Seq(
      (100L, 1L, 2L, 2L, 1),   // island {1,2}
      (100L, 10L, 2L, 2L, 1),  // island {10,11}
      (200L, 5L, 2L, 1L, 0),
      (300L, 7L, 1L, 1L, 0),   // edgeless singleton is its own part
      (400L, 20L, 5L, 1L, 0))) // path: propagation crossed 4 hops
    // Refined parts are exactly (community ∩ connected component of the
    // intra graph): recompute with an independent union-find.
    val parent = scala.collection.mutable.Map(
      labs.collect().map(r => r.getLong(0) -> r.getLong(0)): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    val labMap = labs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((a, b) <- dir if a != b && labMap.get(a) == labMap.get(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = labMap.keys.toSeq
      .groupBy(v => (labMap(v), find(v)))
      .map { case ((lab, root), vs) => (lab, root, vs.size.toLong) }
      .toSeq.sorted
    assert(out.map(t => (t._1, t._2, t._3)).sorted === expect)
  }

  test("graph_leiden: refined parts of a disconnected community escape " +
    "INDIVIDUALLY to different communities — the move the merge pass " +
    "cannot express") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // P places {5,6} in one community although 5 and 6 are NOT adjacent:
    // 5 hangs off the {1,2} pair, 6 off the {10,11} pair (the hollowed
    // community failure mode). Hand-traced through the exact gain
    // arithmetic (2m = 12, all degrees 2, part degrees 4/4/2/2):
    //   round 1: candidates part5→lab1 (g=20), part6→lab10 (g=20),
    //     part1→lab5 (8), part10→lab5 (8); the (g,id) endpoint max at
    //     the shared source community lab5 is (20, 6), so ONLY part6
    //     applies (locally-dominant: no two applied moves may touch a
    //     community).
    //   round 2: part5→lab1 now gains 16 and beats part1's reverse 16
    //     on the id tiebreak; applies.
    //   round 3: no foreign-community neighbor anywhere — drained.
    val labs = Seq(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      5L -> 5L, 6L -> 5L).toDF("id", "lab")
    val dir = Seq((1L, 2L), (10L, 11L), (5L, 1L), (5L, 2L),
      (6L, 10L), (6L, 11L))
    val ue = (dir ++ dir.map(_.swap)).toDF("src", "dst")
    val out = UserGraphQueries.leidenOf(ue, labs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 1L, 3L), (2L, 1L, 3L), (5L, 1L, 3L),
      (6L, 10L, 3L), (10L, 10L, 3L), (11L, 10L, 3L)))
    // Contrast: the X147 whole-community merge pass on the SAME input
    // must keep {5,6} together (it can only merge communities whole —
    // mutual pair (lab1, lab5) merges, then drains), landing the
    // strictly worse partition: q_num 16 vs Leiden's 72 (2m·intra −
    // Σtot²: 12·8 − 80 vs 12·12 − 72, hand arithmetic).
    val merged = UserGraphQueries.louvainComposeOf(labs,
      UserGraphQueries.louvainMergeLoopOf(ue, labs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged === Seq((1L, 1L, 4L), (2L, 1L, 4L), (5L, 1L, 4L),
      (6L, 1L, 4L), (10L, 10L, 2L), (11L, 10L, 2L)))
    // X188 audit ladder on the same graph, q_num by hand (2m = 12,
    // all degrees 2): singletons −Σd² = −24; P has intra 4 and
    // Σtot² 48 → 0; the REFINE step splits {5,6} leaving intra
    // untouched while Σtot² drops to 40 → 8 (refinement never costs
    // modularity — the structural rung this audit exists to pin);
    // the aggregate moves land all 12 rows intra, Σtot² 72 → 72.
    // Multi-level (round 16): level 2 re-refines V1 — both communities
    // are connected (2 parts, no splits) and have zero cross edges, so
    // the level-2 move phase drains at once: passes 4/5 carry the
    // level-1 partition unchanged (the drained-outer-loop certificate).
    val levels = UserGraphQueries.leidenFramesOf(ue, labs)
    assert(levels.size === 2)
    val audit = UserGraphQueries.leidenAuditOf(ue, labs, levels)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(audit.toSeq === Seq((0, 6L, -24L), (1, 3L, 0L),
      (2, 4L, 8L), (3, 2L, 72L), (4, 2L, 72L), (5, 2L, 72L)))
  }

  test("graph_leiden multi-level: level 2 merges whole communities " +
    "that level 1's part moves could not — hand-traced two-level " +
    "descent with the full audit ladder") {
    import spark.implicits._
    import graft.queries.UserGraphQueries
    // 7 vertices, 14 undirected edges (2m = 28), P with 3 communities.
    // Hand/sim-traced (tools/sim_leiden_multilevel.py machinery):
    //   level 1: refine → 4 parts (q −106 → −82 at the refine, never a
    //     cost), 2 move rounds → 2 communities, q = −2;
    //   level 2: refine finds both communities connected (2 parts),
    //     ONE move merges them WHOLE → q = 0 — the coarser move the
    //     level-1 part granularity cannot express (every single-part
    //     move out of the drained level-1 partition has negative gain);
    //   level 3: the drained probe (engine-required zero rounds).
    val labs = Seq(1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 2L, 5L -> 3L,
      6L -> 3L, 7L -> 2L).toDF("id", "lab")
    val dir = Seq((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 6L), (2L, 7L), (3L, 6L), (3L, 7L), (4L, 5L), (4L, 6L),
      (5L, 6L), (5L, 7L), (6L, 7L))
    val ue = (dir ++ dir.map(_.swap)).toDF("src", "dst")
    val out = UserGraphQueries.leidenOf(ue, labs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === (1L to 7L).map(v => (v, 3L, 7L)))
    val levels = UserGraphQueries.leidenFramesOf(ue, labs)
    assert(levels.size === 2)
    // level-1 final partition: {1,4,5,6} → 3, {2,3,7} → 4
    val v1 = UserGraphQueries
      .leidenVertexLabels(levels(0)._1, levels(0)._2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1 === Map(1L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 3L,
      2L -> 4L, 3L -> 4L, 7L -> 4L))
    // audit ladder: singletons −Σd² = −116; P −106; refine-1 −82;
    // final-1 −2; refine-2 −2 (both communities connected — no split);
    // final-2 0 — monotone non-decreasing across BOTH levels.
    val audit = UserGraphQueries.leidenAuditOf(ue, labs, levels)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(audit.toSeq === Seq((0, 7L, -116L), (1, 3L, -106L),
      (2, 4L, -82L), (3, 2L, -2L), (4, 2L, -2L), (5, 1L, 0L)))
  }

  test("graph_rich_club: the documented rank-sketch scale path agrees " +
    "on the fixture — approx_percentile thresholds == the exact rank " +
    "form (judge r14 item #8)") {
    // X102's scaladoc claims that at 100 TB the exact (d, v)-rank
    // thresholds become quantile-boundary assignment from a rank sketch
    // (the X73/X13 story). Prove the handoff on the gate fixture: the
    // THRESHOLD VALUES a sketch would broadcast equal the exact-rank
    // values, so the bin assignment (d > kq) is unchanged.
    import graft.sources.GUser
    import org.apache.spark.sql.functions._
    val e = GUser(spark, "/root/testdata/sf0.001").edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // exact rank form (the engine's): degree at ascending (d, v) rank
    // 1 + (n-1)*q div 100
    val n = deg.count()
    val sorted = deg.orderBy(col("d"), col("v")).collect().map(_.getLong(1))
    val exact = Seq(50, 75, 90)
      .map(q => q -> sorted(((n - 1) * q / 100).toInt))
    // the sketch path: approx_percentile at the same percent ranks
    // (nearest-rank family; 10k accuracy is exact at fixture scale,
    // which is the point — the sketch degrades resolution, not the
    // contract, and the near-regular degree ties absorb rank slack)
    val sk = deg.agg(expr(
      "approx_percentile(d, array(0.50, 0.75, 0.90), 10000)").as("t"))
      .head().getSeq[Long](0)
    assert(Seq(50, 75, 90).zip(sk) === exact,
      s"sketch thresholds $sk != exact $exact")
  }

  test("the four zipf seams agree: directed = distinct tagged (u, v), " +
    "edges = canonical directed, distinct temporal (u, v) = directed") {
    import spark.implicits._
    import graft.queries.UserGraphQueries._
    val ev = (0L until 1500L).map { i =>
      (i * 7919L + 13L, 1700000000000000L + (i * 2654435761L) % 86400000000L)
    }.toDF("event_id", "tus")
      .select(col("event_id"), timestamp_micros(col("tus")).as("ts"))
    val uv = Seq(col("u"), col("v"))
    val dir = zipfDirectedEdgesOf(ev)
    val tagged = zipfDirectedEdgesTagged(ev, col("event_id") % 4)
    val table = Seq(
      ("directed = distinct (u, v) of tagged",
        dir, tagged.select(uv: _*).distinct()),
      ("zipfEdgesOf = canonical form of directed", zipfEdgesOf(ev),
        dir.select(least(uv: _*), greatest(uv: _*)).distinct()),
      ("distinct (u, v) of temporal = directed",
        zipfTemporalEdgesOf(ev).select(uv: _*).distinct(), dir))
    for ((name, got, want) <- table)
      assert(pairs(got) === pairs(want), name)
    val d = pairs(dir)
    assert(d.nonEmpty && d.forall { case (u, v) => u != v })
    // the tag is the caller's column, carried per event
    assert(tagged.select(col("bk")).distinct().count() === 4L)
  }
}
