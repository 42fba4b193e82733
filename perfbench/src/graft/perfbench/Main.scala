package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** JVM side of the repo benchmark (see perfbench/README.md).
  *
  * Drives the engine only through the entry points a user calls: the
  * `_build:` warm hooks, `queries.Registry.byKey(k).fn` + a count, the
  * streaming maintainers' `applyBatch` + readout, and `Caches.evict`.
  * Every measured pass starts from an evicted cache and ends with
  * `Caches.evict`, so shared builds count as work.
  *
  * Usage: Main <workload> <dataDir> <seed> <seconds> <trace 0|1> <outDir>
  * Writes `<outDir>/result.json`, `<outDir>/oracle_sql.json`, the first
  * pass's outputs under `<outDir>/verify/<name>/` (parquet, for the DuckDB
  * oracle compare) and, when tracing, `<outDir>/trace.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println(
        "usage: Main <workload> <dataDir> <seed> <seconds> <trace> <outDir>")
      sys.exit(2)
    }
    val Array(wlName, dir, seedS, secS, traceS, out) = args
    val wl = Workloads.byName.getOrElse(wlName, {
      System.err.println(s"unknown workload $wlName (known: " +
        Workloads.byName.keys.toSeq.sorted.mkString(", ") + ")")
      sys.exit(2)
    })
    val res = new Runner(wl, dir, seedS.toLong, secS.toDouble,
      traceS == "1", out).run()
    Json.write(s"$out/result.json", res)
  }
}

/** One clock for spans and Spark job events: epoch nanoseconds advanced by
  * the monotonic timer (job events carry epoch milliseconds).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

final case class Span(id: Int, parent: Int, level: String, name: String,
  t0: Long, var t1: Long = -1L)

final class JobRec(val id: Int, val group: String, val site: String,
    val t0: Long) {
  @volatile var t1: Long = -1L
  var stages, tasks = 0
  var runMs, cpuNs, shRead, shWrite, spill, gcMs = 0L
}

/** Executor task CPU always; per-job records only while `tracing`. */
final class Listener extends SparkListener {
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong
  private val started = new java.util.concurrent.atomic.AtomicLong
  private val ended = new java.util.concurrent.atomic.AtomicLong
  @volatile var tracing = false
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (tracing) synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // the result stage is named after the call that submitted the job
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      val j = new JobRec(e.jobId, prop("spark.jobGroup.id"), site,
        e.time * 1000000L)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = j)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    started.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    if (tracing) synchronized {
      stageToJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shRead += m.shuffleReadMetrics.totalBytesRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      }
    }
    ended.incrementAndGet()
  }

  /** Wait until the async bus has delivered every started task's end and
    * every recorded job's end (bounded), then return total task CPU (s).
    */
  def quiesce(): Double = {
    val deadline = System.nanoTime() + 5000000000L
    def pending = started.get() != ended.get() ||
      synchronized(jobs.values.exists(_.t1 < 0))
    while (pending && System.nanoTime() < deadline) Thread.sleep(2)
    cpuNs.get() / 1e9
  }

  def drain(): Seq[JobRec] = synchronized {
    val js = jobs.values.toSeq
    jobs.clear(); stageToJob.clear(); js
  }
}

/** Process-level probes: GC, load, storage, codegen. */
object Probe {
  import scala.jdk.CollectionConverters._
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime)
    .filter(_ >= 0).sum
  /** utime + stime (s) of a /proc stat file; 0 where there is none. */
  private def statCpuS(path: String): Double =
    try {
      val f = readFile(path).split("\\) ", 2)(1).split(" ")
      (f(11).toLong + f(12).toLong) / 100.0 // USER_HZ
    } catch { case _: Throwable => 0.0 }
  private def readFile(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }
  /** CPU time of the whole JVM (s): in local mode the driver's planning
    * and scheduling, the executor tasks, GC and JIT compilation.
    */
  def processCpuS: Double = statCpuS("/proc/self/stat")
  /** CPU time of the JIT compiler threads (s). The JVM flags fix their
    * number (-XX:-UseDynamicNumberOfCompilerThreads), so none exits
    * mid-pass and takes its time with it; GC threads never exit.
    */
  def jitCpuS: Double = threadsCpuS(Seq("C1 Compiler", "C2 Compiler"))
  /** CPU time of the garbage collector's threads (s). */
  def gcCpuS: Double = threadsCpuS(Seq("GC Thread", "G1 ", "VM Thread"))
  private def threadsCpuS(prefixes: Seq[String]): Double =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten
      .filter { t =>
        val comm = try readFile(s"$t/comm") catch { case _: Throwable => "" }
        prefixes.exists(comm.startsWith)
      }.map(t => statCpuS(s"$t/stat")).sum
  /** JVM CPU less JIT compilation and garbage collection (s): both vary
    * from run to run with heap and compiler timing far more than the
    * work the pass asks for does.
    */
  def appCpuS: Double = processCpuS - jitCpuS - gcCpuS
  def loadavg: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
  /** Executor storage memory in use (MB), summed over block managers. */
  def storageMb(s: SparkSession): Double =
    s.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
  /** Persisted RDDs holding some but not all of their blocks. */
  def partialRdds(s: SparkSession): Int =
    s.sparkContext.getRDDStorageInfo.count(i =>
      i.numCachedPartitions > 0 && i.numCachedPartitions < i.numPartitions)
  /** Every RDD still holding blocks. */
  def cachedRdds(s: SparkSession): Seq[org.apache.spark.storage.RDDInfo] =
    s.sparkContext.getRDDStorageInfo.toSeq.filter(_.numCachedPartitions > 0)
  def describe(i: org.apache.spark.storage.RDDInfo): String =
    f"${i.id} ${i.name.take(60)} ${i.numCachedPartitions}/" +
      f"${i.numPartitions} ${(i.memSize + i.diskSize) / 1048576.0}%.2fMB"
  private def codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def codegenCount: Long = codegen.getCount
  def codegenMeanMs: Double = codegen.getSnapshot.getMean
}

/** One timed unit of a pass: a build, a key, a batch or the evict. */
final case class OpRec(kind: String, name: String, ms: Double, ok: Boolean)

final case class PassRec(idx: Int, traced: Boolean, wallS: Double,
  cpuS: Double, appCpuS: Double, jitCpuS: Double, gcCpuS: Double,
  storagePeakMb: Double, storageHeldMb: Double,
  gcStartMs: Long, gcEndMs: Long,
  loadStart: Double, loadEnd: Double, codegens: Long, ops: Seq[OpRec],
  notes: Map[String, Double], verifyS: Double, residualMb: Double,
  partialRdds: Int, residualRdds: Seq[String], leakedRdds: Seq[String])

final class Runner(wl: Workload, dir: String, seed: Long, seconds: Double,
    trace: Boolean, out: String) {
  private val listener = new Listener
  private val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var spanTracing = false
  private val failures = ArrayBuffer[(String, String)]()
  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Time `body` (ms); when tracing, record it as a span and tag the Spark
    * jobs it submits from this thread with the span id (job group).
    */
  private def span[T](level: String, name: String)(body: => T): (T, Double) = {
    val t0 = Clock.now
    if (!spanTracing) {
      val r = body
      (r, (Clock.now - t0) / 1e6)
    } else {
      val sp = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        level, name, t0)
      spans += sp
      stack.push(sp)
      val sc = spark.sparkContext
      sc.setJobGroup(sp.id.toString, name)
      try {
        val r = body
        (r, (Clock.now - t0) / 1e6)
      } finally {
        sp.t1 = Clock.now
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  private def fail(name: String, e: Throwable): Unit = {
    val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
    System.err.println(s"[perfbench] $name FAILED: $msg")
    e.printStackTrace()
    failures += (name -> msg.take(300))
  }

  // ── setup ──────────────────────────────────────────────────────────

  /** Session construction, opening every source table and a synthetic
    * warm-up: seconds for each.
    */
  private def setupOnce(): Seq[Double] = {
    val marks = ArrayBuffer(System.nanoTime())
    def mark(): Unit = marks += System.nanoTime()
    spark = session()
    spark.sparkContext.addSparkListener(listener)
    mark()
    graft.sources.Tables.names.foreach(n =>
      graft.sources.Tables(spark, dir, n).schema)
    mark()
    Runner.warmUp(spark)
    mark()
    marks.toSeq.sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }.toSeq
  }

  private def teardown(): Unit = {
    wl.release()
    graft.Caches.evict(spark)
    spark.stop()
    spark = null
  }

  /** Storage in use once the context cleaner has reclaimed unreferenced
    * pins: GC until `done(storage)` holds or storage holds still for three
    * rounds (at most 3 s).
    */
  private def settledStorage(done: Double => Boolean = _ => false): Double = {
    val deadline = System.nanoTime() + 3000000000L
    var mb = Probe.storageMb(spark)
    var still = 0
    while (!done(mb) && still < 3 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
      val next = Probe.storageMb(spark)
      still = if (next < mb) 0 else still + 1
      mb = next
    }
    mb
  }

  // ── passes ─────────────────────────────────────────────────────────

  /** One pass: the workload's ops, then `Caches.evict`. The first pass
    * also writes its outputs for the oracle check, excluded from wall.
    */
  private def runPass(idx: Int, traced: Boolean, verify: Boolean,
      baseline: Double, baselineRdds: Set[Int]): PassRec = {
    listener.tracing = traced
    spanTracing = traced
    val ops = ArrayBuffer[OpRec]()
    val notes = mutable.LinkedHashMap[String, Double]()
    val outputs = ArrayBuffer[(String, () => DataFrame)]()
    var peak = Probe.storageMb(spark)
    val (gc0, load0, cg0) = (Probe.gcMs, Probe.loadavg, Probe.codegenCount)
    val cpu0 = listener.quiesce()
    val (app0, jit0, gcc0) = (Probe.appCpuS, Probe.jitCpuS, Probe.gcCpuS)
    val t0 = System.nanoTime()
    var excludedNs = 0L
    var excludedCpuS = 0.0
    val ctx = new PassCtx {
      val session: SparkSession = spark
      val dataDir: String = dir
      val runSeed: Long = seed
      def op(kind: String, name: String)(body: => Unit): Boolean = {
        val (ok, ms) = span(kind, name) {
          try { body; true } catch { case e: Throwable => fail(name, e); false }
        }
        ops += OpRec(kind, name, ms, ok)
        peak = math.max(peak, Probe.storageMb(spark))
        ok
      }
      def phase[T](name: String)(body: => T): T = span("phase", name)(body)._1
      def output(name: String, df: => DataFrame): Unit =
        outputs += (name -> (() => df))
      def note(name: String, v: Double): Unit = notes(name) = v
    }
    var partial = 0
    var held = 0.0
    var verifyS = 0.0
    span("pass", s"pass$idx") {
      wl.runPass(ctx)
      // not part of the pass's time: the storage the completed results
      // hold, and (first pass) writing them while their pins are live
      val (v0, vc0) = (System.nanoTime(), Probe.appCpuS)
      held = settledStorage()
      partial = Probe.partialRdds(spark)
      val w0 = System.nanoTime()
      if (verify) outputs.foreach { case (name, df) =>
        try df().coalesce(1).write.mode("overwrite")
          .parquet(s"$out/verify/$name")
        catch { case e: Throwable => fail(s"verify:$name", e) }
      }
      verifyS = (System.nanoTime() - w0) / 1e9
      outputs.clear() // drop the references so evict can reclaim the pins
      excludedNs = System.nanoTime() - v0
      excludedCpuS = Probe.appCpuS - vc0
      val (_, evMs) = span("evict", "evict")(graft.Caches.evict(spark))
      ops += OpRec("evict", "evict", evMs, ok = true)
    }
    val wall = (System.nanoTime() - t0 - excludedNs) / 1e9
    val appCpu = Probe.appCpuS - app0 - excludedCpuS
    val jitCpu = Probe.jitCpuS - jit0
    val gcCpu = Probe.gcCpuS - gcc0
    val cpu = listener.quiesce() - cpu0
    val (gc1, load1, cg1) = (Probe.gcMs, Probe.loadavg, Probe.codegenCount)
    spanTracing = false
    listener.tracing = false
    // an RDD cached now that was not cached after set-up is a pin the
    // evict missed, however small
    def leaked = Probe.cachedRdds(spark).filterNot(i => baselineRdds(i.id))
    val tolerance = Runner.ResidualShare * held
    val residual = settledStorage(mb =>
      mb - baseline <= tolerance / 2 && leaked.isEmpty)
    PassRec(idx, traced, wall, cpu, appCpu, jitCpu, gcCpu, peak, held, gc0,
      gc1, load0, load1, cg1 - cg0, ops.toSeq, notes.toMap, verifyS,
      math.max(0.0, residual - baseline), partial,
      Probe.cachedRdds(spark).map(Probe.describe), leaked.map(Probe.describe))
  }

  /** Single-layer probes of a traced run, each from an evicted cache:
    * a plain count of every source table, the two graph-builder hooks,
    * and the memo-hit cost of re-calling each hook once built.
    */
  private def probeLayers(): Map[String, Double] = {
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    graft.Caches.evict(spark)
    val scan = secs(graft.sources.Tables.names.foreach(n =>
      graft.sources.Tables(spark, dir, n).count()))
    graft.Caches.evict(spark)
    val gtrade = secs(graft.sources.GTrade.warm(spark, dir))
    graft.Caches.evict(spark)
    val guser = secs(graft.sources.GUser.warm(spark, dir))
    val hooks = (wl.builds ++ Seq("gtrade", "guser")).distinct
    hooks.foreach(h => Builds.hooks(h)(spark, dir))
    val hit = hooks.map(h => secs(Builds.hooks(h)(spark, dir)) * 1e3)
    graft.Caches.evict(spark)
    Map("sources.scan_s" -> scan, "sources.gtrade_s" -> gtrade,
      "sources.guser_s" -> guser, "caches.hit_ms" -> hit.sum / hit.size)
  }

  // ── the run ────────────────────────────────────────────────────────

  def run(): Map[String, Any] = {
    val setupParts = (0 until Runner.SetupReps).map { _ =>
      if (spark != null) teardown()
      setupOnce()
    }
    val setups = setupParts.map(_.sum)
    // the workload's input preparation runs once, on the last session
    val p0 = System.nanoTime()
    wl.prepare(spark, dir, seed)
    graft.Caches.evict(spark)
    val prepareS = (System.nanoTime() - p0) / 1e9
    Json.write(s"$out/oracle_sql.json", wl.oracleKeys.map(k =>
      k -> graft.SparkEntry.oracleSql.getOrElse(k, "")).toMap)
    val baseline = settledStorage()
    val baselineRdds = Probe.cachedRdds(spark)
    // untraced: enough passes to fill `seconds`; traced: an untraced
    // warm-up pass, the traced pass, and an untraced pass to compare with
    val plan: Seq[Boolean] =
      if (trace) Seq(false, true, false)
      else Seq.fill(math.max(1, math.round(seconds / wl.nominalPassS).toInt))(false)
    val passes = plan.zipWithIndex.map { case (traced, i) =>
      runPass(i, traced, verify = i == 0, baseline, baselineRdds.map(_.id).toSet)
    }
    val jobs = listener.drain()
    val layers =
      if (trace) {
        val probes = probeLayers()
        writeTrace(jobs)
        layerMetrics(passes, jobs) ++ probes
      } else Map.empty[String, Any]
    teardown()
    val untraced = passes.filter(!_.traced)
    // "batches": the calls a user waits on, keys or stream batches
    val opMs = untraced.flatMap(_.ops.filter(o =>
      (o.kind == "key" || o.kind == "batch") && o.ok).map(_.ms))
    val (tailP, tailMs) = Stats.tail(opMs)
    val invalid = passes.flatMap { p =>
      (if (p.partialRdds > 0)
        Seq(s"pass${p.idx}: ${p.partialRdds} persisted RDDs lost blocks") else Nil) ++
        (if (p.residualMb > Runner.ResidualShare * p.storageHeldMb)
          Seq(f"pass${p.idx}: ${p.residualMb}%.3f MB of ${p.storageHeldMb}%.3f MB " +
            "stayed in storage after evict")
        else Nil) ++
        p.leakedRdds.map(r => s"pass${p.idx}: RDD $r stayed cached after evict")
    }
    Map(
      "workload" -> wl.name,
      "seed" -> seed,
      "setup_s" -> setups,
      "setup_parts_s" -> setupParts,
      "input_prepare_s" -> prepareS,
      "storage_baseline_mb" -> baseline,
      "cached_rdds_after_setup" -> baselineRdds.map(Probe.describe),
      "passes" -> passes.map(p => Map(
        "idx" -> p.idx, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "app_cpu_s" -> p.appCpuS,
        "jit_cpu_s" -> p.jitCpuS, "gc_cpu_s" -> p.gcCpuS,
        "storage_peak_mb" -> p.storagePeakMb,
        "storage_held_mb" -> p.storageHeldMb,
        "gc_ms_start" -> p.gcStartMs, "gc_ms_end" -> p.gcEndMs,
        "loadavg_start" -> p.loadStart, "loadavg_end" -> p.loadEnd,
        "verify_s" -> p.verifyS,
        "residual_mb" -> p.residualMb, "partial_rdds" -> p.partialRdds,
        "cached_rdds_after_evict" -> p.residualRdds,
        "leaked_rdds" -> p.leakedRdds,
        "ops" -> p.ops.map(o => Seq(o.kind, o.name, o.ms, o.ok)))),
      "attempted" -> passes.map(_.ops.count(_.kind != "evict")).sum,
      "failures" -> failures.map { case (n, m) => Seq(n, m) }.toSeq,
      "invalid" -> invalid,
      "verified" -> wl.oracleKeys.filter(k =>
        new java.io.File(s"$out/verify/$k/_SUCCESS").exists()),
      "end_to_end" -> (if (untraced.isEmpty) Map.empty[String, Any] else Map(
        "wall_s" -> Stats.median(untraced.map(_.wallS)),
        "cpu_s" -> Stats.median(untraced.map(_.cpuS)),
        "app_cpu_s" -> Stats.median(untraced.map(_.appCpuS)),
        "storage_mb" -> Stats.median(untraced.map(_.storageHeldMb)),
        "setup_s" -> (Stats.median(setups) + prepareS),
        "batch_p50_ms" -> Stats.median(opMs),
        "batch_tail_ms" -> tailMs)),
      "batch_samples" -> opMs.size,
      "batch_tail_percentile" -> tailP,
      "per_layer" -> layers)
  }

  // ── traced-run attribution ─────────────────────────────────────────

  /** The span each job belongs to: its job group when that span was open
    * at submission, else (jobs from the program's own threads, e.g. the
    * futures of graph_scc_pivot, which keep the group of the span their
    * thread was created in) the innermost span open at submission.
    * Job events carry whole milliseconds, so the group's span is taken
    * as open from `Runner.EventSlackNs` before it opened to as long after
    * it closed.
    */
  private def attribute(jobs: Seq[JobRec]): Map[Int, Span] = {
    def open(s: Span, t: Long) = s.t0 <= t && (s.t1 < 0 || t <= s.t1)
    def openNear(s: Span, t: Long) = s.t0 - Runner.EventSlackNs <= t &&
      (s.t1 < 0 || t <= s.t1 + Runner.EventSlackNs)
    jobs.flatMap { j =>
      val byGroup = j.group.toIntOption.flatMap(spans.lift).filter(openNear(_, j.t0))
      byGroup.orElse(spans.filter(open(_, j.t0)).maxByOption(_.t0)).map(j.id -> _)
    }.toMap
  }

  private def ancestors(s: Span): Seq[Span] =
    Iterator.iterate(Option(s))(_.flatMap(x => spans.lift(x.parent)))
      .takeWhile(_.isDefined).flatten.toSeq

  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = 0L
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  private def layerMetrics(passes: Seq[PassRec], jobs: Seq[JobRec]): Map[String, Any] = {
    val tp = passes.find(_.traced).get
    val next = passes.find(_.idx == tp.idx + 1).get
    val attr = attribute(jobs)
    val passSpan = spans.find(s => s.level == "pass" && s.name == s"pass${tp.idx}").get
    val inPass = spans.toSeq.filter(s => s != passSpan && ancestors(s).contains(passSpan))
    def under(s: Span) = jobs.filter(j => attr.get(j.id).exists(ancestors(_).contains(s)))
    def dur(s: Span) = (s.t1 - s.t0) / 1e9
    val pj = under(passSpan)
    val jobWall = unionNs(pj.map(j => (j.t0, j.t1))) / 1e9
    val m = mutable.LinkedHashMap[String, Any]()
    m("spark.jobs") = pj.size
    m("spark.stages") = pj.map(_.stages).sum
    m("spark.tasks") = pj.map(_.tasks).sum
    m("spark.one_task_jobs") = pj.count(_.tasks == 1)
    m("spark.job_wall_s") = jobWall
    m("spark.driver_gap_s") = tp.wallS - jobWall
    m("spark.task_run_s") = pj.map(_.runMs).sum / 1e3
    m("spark.shuffle_read_mb") = pj.map(_.shRead).sum / 1048576.0
    m("spark.shuffle_write_mb") = pj.map(_.shWrite).sum / 1048576.0
    m("spark.spill_mb") = pj.map(_.spill).sum / 1048576.0
    // compile count is exact; the time is count x the sampled mean
    m("spark.codegen_ms") = tp.codegens * Probe.codegenMeanMs
    m("spark.gc_s") = (tp.gcEndMs - tp.gcStartMs) / 1e3
    val builds = inPass.filter(_.level == "build")
    m("caches.build_s") = builds.map(dur).sum
    Workloads.allBuilds.foreach(b =>
      m(s"caches.build.${b}_s") = builds.filter(_.name == b).map(dur).sum)
    m("caches.partial_rdds") = tp.partialRdds
    m("caches.residual_mb") = tp.residualMb
    val keys = inPass.filter(_.level == "key")
    // key calls and stream readouts are both queries
    def phaseSum(p: String) =
      inPass.filter(s => s.level == "phase" && s.name == p).map(dur).sum
    m("queries.construct_s") = phaseSum("construct")
    m("queries.plan_s") = phaseSum("plan")
    m("queries.exec_s") = phaseSum("exec")
    (Workloads.allKeys ++ wl.keys).distinct.foreach { k =>
      val ks = keys.filter(_.name == k)
      m(s"queries.$k.wall_s") = ks.map(dur).sum
      m(s"queries.$k.jobs") = ks.map(under(_).size).sum
    }
    val batches = inPass.filter(_.level == "batch")
    StreamWorkload.maintainers.foreach { mt =>
      val bs = batches.filter(_.name.startsWith(s"$mt#"))
      def phaseMs(b: Span, p: String) = inPass.find(s =>
        s.parent == b.id && s.name == p).map(dur(_) * 1e3).getOrElse(0.0)
      val applies = bs.map(phaseMs(_, "apply"))
      val q = math.max(1, applies.size / 4)
      m(s"streaming.$mt.apply_ms") = Stats.median(applies)
      m(s"streaming.$mt.jobs_per_batch") =
        if (bs.isEmpty) 0.0 else bs.map(under(_).size).sum.toDouble / bs.size
      m(s"streaming.$mt.readout_ms") = Stats.median(bs.map(phaseMs(_, "readout")))
      m(s"streaming.$mt.state_rows") =
        tp.notes.getOrElse(s"streaming.$mt.state_rows", 0.0)
      // apply time of the last quarter of batches over the first quarter
      m(s"streaming.$mt.growth") =
        if (applies.isEmpty) 0.0 else applies.takeRight(q).sum / applies.take(q).sum
    }
    m("trace.overhead_s") = tp.wallS - next.wallS
    m.toMap
  }

  /** Every span with its self time (duration minus what child spans and
    * attributed jobs cover), and every job with its span.
    */
  private def writeTrace(jobs: Seq[JobRec]): Unit = {
    val attr = attribute(jobs)
    val children = spans.groupBy(_.parent)
    val jobsOf = jobs.groupBy(j => attr.get(j.id).map(_.id).getOrElse(-1))
    def selfNs(s: Span): Long = {
      val kids = children.getOrElse(s.id, Nil).map(c => (c.t0, c.t1)) ++
        jobsOf.getOrElse(s.id, Nil).map(j => (j.t0, j.t1))
      (s.t1 - s.t0) - unionNs(kids.toSeq.map { case (a, b) =>
        (math.max(a, s.t0), math.min(b, s.t1)) })
    }
    Json.write(s"$out/trace.json", Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "level" -> s.level, "name" -> s.name, "t0_ns" -> s.t0,
        "dur_s" -> (s.t1 - s.t0) / 1e9, "self_s" -> selfNs(s) / 1e9)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id,
        "span" -> attr.get(j.id).map(_.id).getOrElse(-1),
        "by_group" -> attr.get(j.id).exists(_.id.toString == j.group),
        "call_site" -> j.site,
        "t0_ns" -> j.t0, "dur_s" -> (j.t1 - j.t0) / 1e9, "stages" -> j.stages,
        "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3, "cpu_s" -> j.cpuNs / 1e9,
        "shuffle_read_b" -> j.shRead, "shuffle_write_b" -> j.shWrite,
        "spill_b" -> j.spill, "gc_ms" -> j.gcMs))))
  }
}

object Runner {
  val SetupReps = 3

  /** Synthetic queries (no benchmark tables) that take the JVM and the
    * planner through aggregation, join, window and checkpoint code once,
    * so the first measured op is not charged for warming them.
    */
  def warmUp(s: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = s.range(20000L).select((col("id") % 997).as("k"), col("id").as("v"))
    val g = a.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .localCheckpoint()
    a.join(g, "k").withColumn("r", row_number().over(
      Window.partitionBy(col("k")).orderBy(col("v"))))
      .filter(col("r") <= 3).groupBy().count().collect()
  }
  /** Storage left after evict beyond this share of what the pass held
    * marks the run invalid.
    */
  val ResidualShare = 0.05
  /** Rounding of job event times (ms) against span times (ns). */
  val EventSlackNs = 2000000L
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** The highest whole percentile with at least ten samples above it,
    * floored at the median: (percentile, nearest-rank value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = if (n == 0) 50.0 else math.max(50.0, math.floor(100.0 * (n - 10) / n))
    if (p == 50.0) (p, median(xs))
    else (p, xs.sorted.apply(math.ceil(p / 100.0 * n).toInt - 1))
  }
}

/** Minimal JSON writer for the result files (maps, seqs, numbers, text). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
