package graft

import scala.collection.mutable

/** Optimization-round profiling harness (guide §1): runs one bench entry —
  * a `_build:<name>` warm hook or a registry key — under the Bench
  * session ([[Harness.session]]) and prints a per-JOB wall/task table, so
  * loop-heavy entries show where their seconds go (scheduling barriers vs
  * compute). An `explain:<key>` entry prints the key's
  * `explain("formatted")` (scan pushdown, join strategy) and then its
  * simple `explain()`, which marks whole-stage-codegen spans with `*(n)`.
  *
  * Usage: runMain graft.Prof <entry> [sfDir] [k=v;k=v]
  *   entry = `_build:louvain` | `explain:<key>` | any registry key
  *   k=v;k=v = session settings for an experiment (profiling only; the
  *   bench/verify session contract is never touched by this)
  */
object Prof {
  def main(args: Array[String]): Unit = {
    // Comma-separated entries: all but the last run UNprofiled (warm-up /
    // shared-build isolation); the last is the profiled target.
    val entries = args.headOption.getOrElse("_build:louvain").split(",").toSeq
    val entry = entries.last
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val extra = args.drop(2).headOption.toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Harness.session(Harness.cpus, extra)
    Harness.warmUp(spark)

    def bodyOf(entry: String): () => Unit = Caches.builds.collectFirst {
      case (name, warm) if entry == s"_build:$name" =>
        () => warm(spark, sfDir)
    }.getOrElse {
      // For a plain key, pre-warm its shared builds are NOT run — pass
      // a `_build:` entry first in a separate invocation if needed.
      val key = entry.stripPrefix("explain:")
      def frame = queries.Registry.byKey(key).fn(spark, sfDir)
      if (key == entry) () => { frame.count(); () }
      else () => {
        val df = frame
        df.explain("formatted")
        println("-------- codegen spans --------")
        df.explain()
      }
    }

    entries.init.foreach(e => bodyOf(e)())
    val body = bodyOf(entry)
    val log = JobLog.on(spark)
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
    val jobs = log.jobTable()
    println(f"%nPROF $entry wall=$wall%.2f s jobs=${jobs.size}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"tasks"}%6s ${"taskMs"}%8s ${"cpuMs"}%8s  site")
    var acc = 0L
    jobs.foreach { j =>
      val w = j.t1 - j.t0
      acc += math.max(0L, w)
      println(f"${j.id}%4d ${w}%8d ${j.tasks}%6d ${j.taskMs}%8d ${j.cpuMs}%8d  ${j.site}")
    }
    println(f"sum job wall = ${acc / 1000.0}%.2f s (gaps = driver-side time between jobs)")
    spark.stop()
  }
}
