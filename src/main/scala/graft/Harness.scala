package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one session factory of the engine's mains (`Bench`, `Verify`,
  * `Prof`) and of the test suite: every run plans and executes under the
  * same session contract, so a number or a hash from one is comparable
  * with the others. DESIGN.md "One session lifecycle" states it.
  */
object Harness {
  /** Executor threads for a main's session: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with one shuffle partition per thread, the
    * UTC pin (the NTZ events read asserts it), the legacy nanos read
    * policy (older fixtures shipped `events.ts` as TIMESTAMP(NANOS); see
    * `Tables.apply`) and no UI. `extra` settings are applied last, so
    * they override these.
    */
  def session(cpus: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warms the JVM (codegen, shuffle machinery) on synthetic data, so
    * session start-up is not charged to whichever entry runs first.
    * Touches no benchmark table.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count(); ()
  }

  /** The comma-separated query-key filter `arg` names, and those of its
    * keys that no query has: a typo'd key must not pass for an empty but
    * clean run, so a main given any unknown key exits.
    */
  def keyFilter(arg: Option[String]): (Option[Set[String]], Set[String]) = {
    val keys = arg.map(_.split(",").toSet)
    (keys, keys.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet))
  }
}

/** The one listener over a session's job and task events: per job its
  * wall, tasks, task time, executor CPU and call site (`graft.Prof`'s
  * table), and the executor CPU of every task (`graft.Bench`'s per-entry
  * CPU column: on-CPU thread time, which other tenants' load does not
  * inflate, unlike wall time).
  *
  * Events arrive on an async bus. Every timed body blocks on its jobs, so
  * a reader only waits for the bus to drain (tasks started == ended, at
  * most 5 s), not for running work.
  */
final class JobLog extends SparkListener {
  import JobLog.Job
  private val cpuNs = new AtomicLong(0L)
  private val started = new AtomicLong(0L)
  private val ended = new AtomicLong(0L)
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (the job's last) is named by the action's call site
    jobs(e.jobId) = Job(e.jobId, t0 = e.time,
      site = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    started.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    m.foreach(t => cpuNs.addAndGet(t.executorCpuTime))
    synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        m.foreach { t =>
          j.taskMs += t.executorRunTime
          j.cpuMs += t.executorCpuTime / 1000000L
        }
      }
    }
    ended.incrementAndGet(); ()
  }

  private def drain(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Executor CPU seconds of every task ended so far. */
  def cpuSeconds(): Double = {
    drain(started.get() == ended.get())
    cpuNs.get() / 1e9
  }

  /** The jobs seen so far, in start order, once their end events are in. */
  def jobTable(): Seq[Job] = {
    drain(started.get() == ended.get() &&
      synchronized(jobs.values.forall(_.t1 > 0L)))
    synchronized(jobs.values.map(_.copy()).toSeq)
  }
}

object JobLog {
  /** One job: start/end times (ms), tasks ended, their run and CPU time. */
  final case class Job(id: Int, t0: Long, var t1: Long = 0L,
    var tasks: Int = 0, var taskMs: Long = 0L, var cpuMs: Long = 0L,
    site: String = "")

  /** A new log listening on `spark`. */
  def on(spark: SparkSession): JobLog = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    log
  }
}
