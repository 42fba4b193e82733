package graft

import graft.algorithms.GraphAlgorithms
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input behavior: operators must be total on empty vertex/edge
  * sets (a 100 TB pipeline will hit empty partitions and empty subgraphs
  * constantly — an operator that throws on empty input is a production
  * outage, and the reference's coGroup-based ops are all total).
  */
class EmptyGraphSpec extends GraftSuite {
  import spark.implicits._

  private def emptyGraph: Graph = {
    val v = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("value", LongType))))
    val e = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
        StructField("value", LongType))))
    Graph(v, e)
  }

  test("structural and aggregate ops are total on the empty graph") {
    val g = emptyGraph
    assert(g.numVertices === 0 && g.numEdges === 0)
    assert(g.outDegrees.count() === 0)
    assert(g.degrees.count() === 0)
    assert(g.triplets.count() === 0)
    assert(g.invalidEndpoints.count() === 0)
    assert(g.reverse.undirected.edges.count() === 0)
    assert(g.reduceOnEdges(EdgeDirection.All)(max(col("value"))).count() === 0)
    assert(g.reduceOnNeighbors(EdgeDirection.In)(sum(col("nbr_value")))
      .count() === 0)
  }

  test("edgeless graph: degrees are zero, CC is per-vertex, LP keeps labels") {
    val g = Graph(Seq((7L, 7L), (9L, 9L)).toDF("id", "value"),
      emptyGraph.edges)
    assert(pairs(g.degrees) === Seq((7L, 0L), (9L, 0L)))
    val cc = GraphAlgorithms.connectedComponents(spark,
      GraphAlgorithms.toGraphX(g), 5)
    assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === Seq((7L, 7L), (9L, 9L)))
    val lp = GraphAlgorithms.labelPropagation(spark, g, 3)
    assert(pairs(lp) === Seq((7L, 7L), (9L, 9L)))
  }

  test("filters that eliminate everything still compose") {
    val g = fixture.filterOnVertices(lit(false))
    assert(g.numVertices === 0 && g.numEdges === 0)
    assert(g.subgraph(lit(true), lit(true)).numEdges === 0)
  }

  test("round-13 iteratives are total on an empty edge frame") {
    import spark.implicits._
    import graft.queries.{DedupQueries, UserGraphQueries => U}
    import graft.streaming.Streams
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val noDir = Seq.empty[(Long, Long)].toDF("u", "v")
    val noT = Seq.empty[(Long, Long, Long)].toDF("u", "v", "t")
    val noW = Seq.empty[(Long, Long, Long)].toDF("a", "b", "p")
    val noWt = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val hs = DedupQueries.shingleSetsOf(docs)
    // (seam, its output on empty input, rows): every pinned fixpoint
    // seam, run from the start rule alone; truss decompose reports its
    // three trussness classes and coloring its one summary row
    val table = Seq[(String, () => DataFrame, Long)](
      ("coreness", () => U.corenessOf(empty), 0L),
      ("partition", () => U.partitionOf(empty), 0L),
      ("trussness", () => U.trussnessOf(empty), 0L),
      ("stream_dedup_minhash",
        () => DedupQueries.streamDedupMinhashOf(spark, docs, hs), 0L),
      ("kcore", () => U.kcorePeelOf(empty), 0L),
      ("tip", () => U.tipDecomposeOf(noDir), 0L),
      ("wing", () => U.wingDecomposeOf(noDir), 0L),
      ("truss decompose", () => U.trussDecomposeOf(empty), 3L),
      ("scc pivot", () => U.sccPivotOf(noDir), 0L),
      ("scc labels", () => U.sccLabelRawOf(noDir)._1, 0L),
      ("topo layers", () => U.topoLayersOf(noDir), 0L),
      ("temporal reach", () => U.temporalReachOf(noT), 0L),
      ("mst", () => U.mstBoruvkaOf(noW), 0L),
      ("mis", () => U.misOf(empty), 0L),
      ("coloring", () => U.coloringOf(empty), 1L),
      ("matching", () => U.matchingOf(noW), 0L),
      ("densest", () => U.densestOf(empty), 0L),
      ("percolation", () => U.percolationOf(noWt, noWt), 0L),
      ("lsh dedup empty batch", () => {
        val m = new Streams.LshDedupMaintainer(spark)
        m.applyBatch(docs)
        m.current
      }, 0L),
      ("cc fold", () => Streams.ccFold(Streams.ccEmptyState(spark),
        noDir)._1, 0L))
    for ((name, out, n) <- table)
      assert(out().count() === n, name)
  }

  test("round-14 seams are total on empty inputs") {
    import spark.implicits._
    import graft.queries.{StreamQueries, UserGraphQueries}
    val noEv = Seq.empty[(Long, Long, String)]
      .toDF("event_id", "user_id", "event_type")
    assert(StreamQueries.hllRegistersOf(noEv).count() === 0)
    assert(StreamQueries.hllEstimateFromRegisters(
      StreamQueries.hllRegistersOf(noEv)).count() === 0)
    val noVal = Seq.empty[(Long, Double, String)]
      .toDF("event_id", "value", "event_type")
    assert(StreamQueries.valueHistOf(noVal).count() === 0)
    assert(StreamQueries.quantilesFromHist(
      StreamQueries.valueHistOf(noVal)).count() === 0)
    // fresh maintainers expose empty-but-well-typed views
    val hm = new graft.streaming.Streams.HllMaintainer(spark)
    assert(hm.current.count() === 0 && hm.estimate.count() === 0)
    val vm = new graft.streaming.Streams.ValueHistMaintainer(spark)
    assert(vm.current.count() === 0 && vm.quantiles.count() === 0)
    // an empty micro-batch neither fails nor perturbs state
    vm.applyBatch(noVal); hm.applyBatch(noEv)
    assert(hm.current.count() === 0 && vm.quantiles.count() === 0)
    // leiden refinement: empty labels, and labels with an empty edge set
    val noLabs = Seq.empty[(Long, Long)].toDF("id", "lab")
    val noE = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(UserGraphQueries.leidenRefineOf(noE, noLabs).count() === 0)
    val labs = Seq(1L -> 10L, 2L -> 10L).toDF("id", "lab")
    val out = UserGraphQueries.leidenRefineOf(noE, labs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // no intra edges: every vertex is its own part
    assert(out.toSeq === Seq((10L, 1L, 1L, 2L), (10L, 2L, 1L, 2L)))
  }
}
