package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Optimization-round profiling harness (guide §1): runs one bench entry —
  * a `_build:<name>` warm hook or a registry key — under the exact Bench
  * session config and prints a per-JOB wall/task table, so loop-heavy
  * entries show where their seconds go (scheduling barriers vs compute).
  *
  * Usage: runMain graft.Prof <entry> [sfDir]
  *   entry = `_build:louvain` | any registry key
  */
object Prof {
  private final class JobLog extends SparkListener {
    case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var tasks: Int = 0, var taskMs: Long = 0L, var cpuMs: Long = 0L,
      var site: String = "")
    val jobs = mutable.LinkedHashMap[Int, J]()
    private val stageToJob = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = J(e.jobId, t0 = e.time,
        site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(""))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1000000L
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // Comma-separated entries: all but the last run UNprofiled (warm-up /
    // shared-build isolation); the last is the profiled target.
    val entries = args.headOption.getOrElse("_build:louvain").split(",").toSeq
    val entry = entries.last
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Experiment overrides: GRAFT_CONF env or args(2) "k=v;k=v"
    // (profiling only — the bench/verify session contract is never
    // touched by this). args(2) exists because `sbt --client` runs in
    // the server JVM whose env is frozen at server start.
    (sys.env.get("GRAFT_CONF").toSeq ++ args.drop(2).headOption.toSeq)
      .foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()

    def bodyOf(entry: String): () => Unit = Caches.builds.collectFirst {
      case (name, warm) if entry == s"_build:$name" =>
        () => warm(spark, sfDir)
    }.getOrElse {
      // For a plain key, pre-warm its shared builds are NOT run — pass
      // a `_build:` entry first in a separate invocation if needed.
      () => { queries.Registry.byKey(entry).fn(spark, sfDir).count(); () }
    }

    entries.init.foreach(e => bodyOf(e)())
    val body = bodyOf(entry)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    // Driver-thread stack sampler (5 ms): attributes the wall the job
    // table can't see (gaps = planning, codegen, broadcast waits) to
    // actual frames. Top frame chosen as the first spark/janino frame.
    val mainThread = Thread.currentThread()
    val hist = mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        val top = st.find { f =>
          val c = f.getClassName
          (c.startsWith("org.apache.spark") || c.startsWith("org.codehaus")) &&
            !c.contains("Prof")
        }.map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
          .getOrElse(if (st.isEmpty) "<none>" else st.head.getClassName + "." + st.head.getMethodName)
        hist.synchronized { hist(top) += 1 }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    import org.apache.spark.metrics.source.CodegenMetrics
    def compileMs: Long =
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    def compileN: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (c0, n0) = (compileMs, compileN)
    val t0 = System.nanoTime()
    body()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    println(s"codegen compiles=${compileN - n0} compileMs~${compileMs - c0}")
    println("-- driver main-thread samples (5ms) --")
    hist.synchronized {
      hist.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
        println(f"$n%6d  $f")
      }
    }
    Thread.sleep(500) // drain listener bus
    println(f"%nPROF $entry wall=$wall%.2f s jobs=${log.jobs.size}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"tasks"}%6s ${"taskMs"}%8s ${"cpuMs"}%8s  site")
    var acc = 0L
    log.jobs.values.foreach { j =>
      val w = j.t1 - j.t0
      acc += math.max(0L, w)
      println(f"${j.id}%4d ${w}%8d ${j.tasks}%6d ${j.taskMs}%8d ${j.cpuMs}%8d  ${j.site}")
    }
    println(f"sum job wall = ${acc / 1000.0}%.2f s (gaps = driver-side time between jobs)")
    spark.stop()
  }
}
