package graft.perfbench

import graft.queries.{Registry, UserGraphQueries}
import graft.sources.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

/** What a workload sees of the runner during one pass. */
trait PassCtx {
  def session: SparkSession
  def dataDir: String
  def runSeed: Long
  /** Time one top-level op (a build, a key, a batch); false if it threw. */
  def op(kind: String, name: String)(body: => Unit): Boolean
  /** A phase inside an op (construct/plan/exec, apply/readout). */
  def phase[T](name: String)(body: => T): T
  /** An output to oracle-check (written after the pass's ops, untimed). */
  def output(name: String, df: => DataFrame): Unit
  /** A per-pass observation reported by the traced run. */
  def note(name: String, v: Double): Unit
}

abstract class Workload(val name: String, val nominalPassS: Double) {
  /** `_build:` hooks the pass runs before its keys. */
  def builds: Seq[String] = Nil
  /** Registry keys the pass calls. */
  def keys: Seq[String] = Nil
  /** Registry keys whose oracle checks this workload's outputs. */
  def oracleKeys: Seq[String]
  /** Input preparation, part of set-up (once, after the sessions). */
  def prepare(s: SparkSession, dir: String, seed: Long): Unit = ()
  def release(): Unit = ()
  def runPass(ctx: PassCtx): Unit
}

object Builds {
  /** The `_build:` warm hooks the workloads use, by bench name. */
  val hooks: Map[String, (SparkSession, String) => Unit] = Map(
    "gtrade" -> graft.sources.GTrade.warm,
    "graphx" -> graft.queries.IterQueries.warmGraphX,
    "zipf" -> graft.queries.UserGraphQueries.warmZipf,
    "guser" -> graft.sources.GUser.warm)
}

/** Builds, then registry keys in a seeded order; each key is constructed
  * (`fn`), planned (`executedPlan` of its count) and executed (the count).
  */
final class KeysWorkload(name: String, nominalPassS: Double,
    override val builds: Seq[String], override val keys: Seq[String])
    extends Workload(name, nominalPassS) {
  def oracleKeys: Seq[String] = keys
  def runPass(ctx: PassCtx): Unit = {
    val (s, dir) = (ctx.session, ctx.dataDir)
    builds.foreach(b => ctx.op("build", b)(Builds.hooks(b)(s, dir)))
    new scala.util.Random(ctx.runSeed).shuffle(keys).foreach { k =>
      ctx.op("key", k) {
        val df = ctx.phase("construct")(Registry.byKey(k).fn(s, dir))
        // Dataset.count() is exactly this aggregate's collect; split so
        // planning and execution are timed apart
        val counted = df.groupBy().count()
        ctx.phase("plan")(counted.queryExecution.executedPlan)
        ctx.phase("exec")(counted.collect())
        ctx.output(k, df)
      }
    }
  }
}

/** Six streaming maintainers, each fed slices of the input its registered
  * `stream_*` key folds, round-robin with one batch in flight; every
  * `applyBatch` is followed by a readout, and each final readout is
  * checked against that key's oracle.
  */
final class StreamWorkload(name: String, nominalPassS: Double)
    extends Workload(name, nominalPassS) {
  /** One maintainer instance for one pass. */
  private trait Fold {
    def apply(batch: DataFrame, idx: Int): Unit
    /** The live state a reader queries between batches. */
    def view: DataFrame
    /** State size from the collected view: its rows, by default. */
    def stateRows(rows: Array[Row]): Long = rows.length.toLong
    def result: DataFrame
  }
  /** A maintainer's batch slices (delivery order) and constructor. */
  private final case class Feed(maint: String, batches: Seq[DataFrame],
    make: () => Fold)

  @volatile private var feeds: Seq[Feed] = Nil

  def oracleKeys: Seq[String] = StreamWorkload.oracle.values.toSeq.sorted

  override def release(): Unit = feeds = Nil

  override def prepare(s: SparkSession, dir: String, seed: Long): Unit = {
    import StreamWorkload.Coarse
    def pin(df: DataFrame) = SqlBridge.pinned(graft.util.FanOut(df))
    // the order-free folds (cc, butterfly, hll) take their batches in a
    // seeded order
    def order(tag: Int, n: Int) =
      new scala.util.Random(seed * 31 + tag).shuffle((0 until n).toList)
    // equal value ranges of `v`, in order (equal values share a batch)
    def ranged(df: DataFrame, v: String, n: Int) = {
      val mm = df.agg(min(expr(v)), max(expr(v))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      (0 until n).map(b =>
        df.filter(expr(s"($v - ${lo}L) * $n div (${hi}L - ${lo}L + 1)") === b))
    }
    val events = Tables(s, dir, "events")
    val ev = pin(events)

    val ccEdges = SqlBridge.pinned(UserGraphQueries.zipfCanonicalFrame(s, dir)
      .select(col("a").as("u"), col("b").as("v")))
    val cc = Feed("cc", order(1, Coarse).map(k =>
        ccEdges.filter((col("u") + col("v")) % Coarse === k)),
      () => new Fold {
        val m = new Streams.CcMaintainer(s)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b)
        def view: DataFrame = m.current
        def result: DataFrame = m.current
          .select(col("id"), col("label"), lit(m.converged).as("converged"))
      })

    val tagged = pin(UserGraphQueries.zipfDirectedEdgesTagged(events,
      col("event_id") % Coarse))
    val butterfly = Feed("butterfly", order(2, Coarse).map(k =>
        tagged.filter(col("bk") === k).select(col("u"), col("v"))),
      () => new Fold {
        val m = new Streams.ButterflyMaintainer(s, UserGraphQueries.TipFanCap)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b)
        def view: DataFrame = m.verdict
        // the 1-row verdict; its n_edges is the maintained edge state
        override def stateRows(rows: Array[Row]): Long = rows(0).getLong(0)
        def result: DataFrame = m.verdict
      })

    // the oracle's batch_idx column numbers the key's four time quartiles
    val clicks = pin(events.filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_type")))
    val asof = Feed("asof", ranged(clicks, "tus", 4),
      () => new Fold {
        val m = new Streams.AsofMaintainer(s)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b, batchId = i)
        def view: DataFrame = m.current
        def result: DataFrame = m.current
      })

    // keep-first dedup needs id-ordered batches
    val docs = pin(Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")))
    val lsh = Feed("lsh_dedup", ranged(docs, "doc_id", Coarse),
      () => new Fold {
        val m = new Streams.LshDedupMaintainer(s)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b, batchId = i)
        def view: DataFrame = m.current
        def result: DataFrame = m.current
      })

    val hll = Feed("hll", order(3, 4).map(k => ev.filter(col("event_id") % 4 === k)),
      () => new Fold {
        val m = new Streams.HllMaintainer(s)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b)
        def view: DataFrame = m.estimate
        def result: DataFrame = m.estimate
          .join(ev.groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("n_users")), Seq("event_type"))
          .orderBy(col("event_type"), col("bucket"))
      })

    // CDC folds need per-key delivery order: time ranges
    val merge = Feed("merge", ranged(ev, "unix_micros(ts)", 4),
      () => new Fold {
        val m = new Streams.MergeMaintainer(s)
        def apply(b: DataFrame, i: Int): Unit = m.applyBatch(b, batchId = i)
        def view: DataFrame = m.current
        def result: DataFrame = m.current
      })

    feeds = Seq(cc, butterfly, asof, lsh, hll, merge)
  }

  def runPass(ctx: PassCtx): Unit = {
    val live = feeds.map(f => f -> f.make()).toArray
    val failed = Array.fill(live.length)(false)
    val nBatches = feeds.map(_.batches.size).max
    for (b <- 0 until nBatches; i <- live.indices
         if !failed(i) && b < live(i)._1.batches.size) {
      val (f, fold) = live(i)
      val ok = ctx.op("batch", s"${f.maint}#$b") {
        ctx.phase("apply")(fold.apply(f.batches(b), b))
        // the readout is a query like a key's: construct, plan, collect
        val rows = ctx.phase("readout") {
          val df = ctx.phase("construct")(fold.view)
          ctx.phase("plan")(df.queryExecution.executedPlan)
          ctx.phase("exec")(df.collect())
        }
        ctx.note(s"streaming.${f.maint}.state_rows", fold.stateRows(rows).toDouble)
      }
      failed(i) = !ok
    }
    for (i <- live.indices if !failed(i))
      ctx.output(StreamWorkload.oracle(live(i)._1.maint), live(i)._2.result)
  }
}

object StreamWorkload {
  val maintainers: Seq[String] =
    Seq("cc", "butterfly", "asof", "lsh_dedup", "hll", "merge")
  /** Batches for the three costliest maintainers (cc, butterfly,
    * lsh_dedup) instead of their keys' four: their folds are
    * split-invariant, and two batches keep a pass inside the run budget.
    * The others take their keys' four slices.
    */
  val Coarse = 2
  /** Maintainer → the registered key whose oracle checks its readout. */
  val oracle: Map[String, String] = Map(
    "cc" -> "stream_cc_labels", "butterfly" -> "stream_butterflies",
    "asof" -> "stream_asof", "lsh_dedup" -> "stream_dedup_minhash",
    "hll" -> "stream_distinct_hll", "merge" -> "stream_merge_upsert")
}

object Workloads {
  val iterRounds = new KeysWorkload("iter_rounds", 16.0,
    builds = Seq("zipf", "gtrade", "graphx"),
    keys = Seq("graph_coloring", "graph_scc_pivot", "graph_temporal_reach",
      "graph_kcore", "sssp"))

  val streamFold = new StreamWorkload("stream_fold", 26.0)

  /** Runnable but not in BENCHMARK.json: see perfbench/README.md. */
  val bulkScale = new KeysWorkload("bulk_scale", 16.0,
    builds = Seq("zipf", "gtrade", "graphx"),
    keys = Seq("sssp", "graph_temporal_reach", "entity_fuzzy_join",
      "substrate_bucketed_join"))

  val byName: Map[String, Workload] =
    Seq(iterRounds, streamFold, bulkScale).map(w => w.name -> w).toMap

  // per-layer metric names are the same on every workload (zero where a
  // workload does not run that build, key or maintainer)
  val allBuilds: Seq[String] = Seq("zipf", "gtrade", "graphx")
  val allKeys: Seq[String] = iterRounds.keys
}
