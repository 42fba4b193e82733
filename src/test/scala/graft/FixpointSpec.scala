package graft

import graft.util.{Fixpoint, MinLabel, Propagate}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.{pinned, pinnedSum, release}

/** The contract of [[Fixpoint]]: the stop rules, the cap outcome, the
  * round count under two rounds per step, one Spark job per step,
  * re-entrancy from concurrent driver threads, and the pins a loop
  * leaves behind.
  */
class FixpointSpec extends GraftSuite {
  /** One loop: its start values, probe, stop rule, cap, rounds per step
    * and step, with the outcome it must reach: the final x values,
    * rounds, converged, and the round each step received.
    */
  private case class Case(name: String, xs: Seq[Long], probe: Column,
      stop: Fixpoint.Stop, cap: Int, perStep: Int,
      step: DataFrame => DataFrame, outXs: Seq[Long], rounds: Int,
      converged: Boolean, stepRounds: Seq[Int], unprobed: Boolean = false)

  /** The pinned start frame of `c` with its rows and probe sum. */
  private def start(c: Case): (DataFrame, Long, Long) = {
    import spark.implicits._
    val (df, n, s) = pinnedSum(c.xs.toDF("x"), c.probe)
    (df, if (c.unprobed) Fixpoint.Unprobed else n, s)
  }

  private val inc = (df: DataFrame) => df.select((col("x") + 1L).as("x"))
  private val dec = (df: DataFrame) =>
    df.select(greatest(col("x") - 1L, lit(0L)).as("x"))

  private val cases = Seq(
    Case("the cap stops a moving sum: converged = false, rounds = cap",
      Seq(0L), col("x"), Fixpoint.Unchanged, 3, 1, inc,
      Seq(3L), 3, converged = false, Seq(1, 2, 3)),
    Case("an unchanged sum stops on the step that repeats it",
      Seq(2L, 1L), col("x"), Fixpoint.Unchanged, 10, 1, dec,
      Seq(0L, 0L), 3, converged = true, Seq(1, 2, 3)),
    Case("a zero sum stops on the step that reaches it",
      Seq(3L), col("x"), Fixpoint.Zero, 10, 1, dec,
      Seq(0L), 3, converged = true, Seq(1, 2, 3)),
    Case("the stop rule wins on the cap's last round",
      Seq(3L), col("x"), Fixpoint.Zero, 3, 1, dec,
      Seq(0L), 3, converged = true, Seq(1, 2, 3)),
    Case("two rounds per step count rounds as coloring and coreness do",
      Seq(0L), col("x"), Fixpoint.Unchanged, 5, 2, inc,
      Seq(3L), 6, converged = false, Seq(2, 4, 6)),
    Case("lit(1L) probes the row count",
      Seq(1L, 2L, 3L), lit(1L), Fixpoint.Unchanged, 10, 1,
      _.filter(col("x") > 1L), Seq(2L, 3L), 2, converged = true,
      Seq(1, 2)),
    Case("a start with 0 rows is converged and runs no step",
      Nil, col("x"), Fixpoint.Unchanged, 10, 1, inc,
      Nil, 0, converged = true, Nil),
    Case("an unprobed start always runs its first step",
      Nil, col("x"), Fixpoint.Zero, 10, 1, inc,
      Nil, 1, converged = true, Seq(1), unprobed = true))

  private def run(c: Case,
      from: (DataFrame, Long, Long)): (Fixpoint.Result, Seq[Int]) = {
    val seen = Seq.newBuilder[Int]
    val r = Fixpoint(from._1, from._2, from._3, c.probe, c.cap, c.stop,
        c.perStep) { (df, round) => seen += round; c.step(df) }
    (r, seen.result())
  }

  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("Fixpoint contract table: outcome, rounds and one pin per step") {
    for (c <- cases) {
      val from = start(c)
      val ((r, stepRounds), jobs) =
        jobsOf(s"fixpoint-${c.name}")(run(c, from))
      // one step costs exactly the jobs of one pinnedSum of its frame
      // (under adaptive execution: the shuffle-map job and the result job)
      val (_, perPin) = jobsOf(s"pin-${c.name}")(
        pinnedSum(c.step(r.frame), c.probe))
      assert(jobs === stepRounds.size * perPin, s"${c.name}: jobs")
      assert(stepRounds === c.stepRounds, s"${c.name}: step rounds")
      assert(r.rounds === c.rounds, s"${c.name}: rounds")
      assert(r.converged === c.converged, s"${c.name}: converged")
      assert(xs(r.frame) === c.outXs, s"${c.name}: frame")
      assert(r.rows === c.outXs.size, s"${c.name}: rows")
      assert(r.sum === pinnedSum(r.frame, c.probe)._3, s"${c.name}: sum")
    }
  }

  test("concurrent drivers give the sequential results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def outcome(c: Case) = {
      val (r, rounds) = run(c, start(c))
      (xs(r.frame), r.rows, r.sum, r.rounds, r.converged, rounds)
    }
    val sequential = cases.map(outcome)
    val concurrent = Await.result(
      Future.sequence(cases.map(c => Future(outcome(c)))), Duration.Inf)
    assert(concurrent === sequential)
  }

  test("every job of a step carries its round as a tag, the jobs " +
    "adaptive execution submits included") {
    import spark.implicits._
    val (s0, n0, sum0) = pinnedSum((1L to 50L).toDF("x"), col("x"))
    val log = JobLog.on(spark)
    try {
      // a shuffle per step, and a sum that moves until the cap
      val (r, _) = jobsOf("fixpoint-tags")(
        Fixpoint(s0, n0, sum0, col("x"), 3) { (df, _) =>
          df.groupBy(col("x").as("k")).agg((max(col("x")) + 1L).as("x"))
            .select(col("x"))
        })
      assert(r.rounds === 3 && !r.converged)
      val ids = spark.sparkContext.statusTracker
        .getJobIdsForGroup("fixpoint-tags").toSet
      val deadline = System.nanoTime() + 10000000000L
      def seen = log.jobTable().filter(j => ids(j.id))
      while (seen.size < ids.size && System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen
      assert(jobs.size === ids.size && ids.size > 3,
        s"${ids.size} jobs, ${jobs.size} seen: no shuffle-map jobs?")
      assert(jobs.map(_.round).toSet === Set("1", "2", "3"),
        jobs.map(j => s"${j.id}:${j.round}").mkString(" "))
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("no GC: only start, result and the step's own pins stay cached") {
    import spark.implicits._
    val first = spark.sparkContext.emptyRDD[Int].id
    def cachedPins() = cachedRdds().filter(_ > first)
    // the driver: every round's pin but the last is released at once
    val (s0, n0, sum0) = pinnedSum((1L to 20L).toDF("x"), col("x"))
    val own = Seq.newBuilder[DataFrame]
    val r = Fixpoint(s0, n0, sum0, col("x"), 4) { (df, _) =>
      val mid = pinned(df.select((col("x") + 1L).as("x")))
      own += mid
      mid.select((col("x") + 1L).as("x"))
    }
    assert(r.rounds === 4 && !r.converged)
    assert(xs(r.frame) === (9L to 28L))
    val mine = (Seq(s0, r.frame) ++ own.result()).map(pagesOf)
    assert(mine.forall(_.nonEmpty) &&
      cachedPins() === mine.reduce(_ ++ _), "superseded pins stay cached")
    (Seq(s0, r.frame) ++ own.result()).foreach(release)
    // the kernels: a lazy start, and a start MinLabel pinned itself
    val chain = (0L until 8L).map(i => (i, i + 1))
    val reach = Propagate(Seq((0L, 0L)).toDF("id", "x"), 1L,
      chain.toDF("src", "dst"), lit(0L), min, 64)
    assert(reach.converged && reach.rounds === 9)
    assert(cachedPins() === pagesOf(reach.frame), "Propagate")
    release(reach.frame)
    val labels = MinLabel((0L to 8L).toDF("id"),
      chain.toDF("src", "dst"), 64)
    assert(labels.converged && labels.rounds > 1)
    assert(cachedPins() === pagesOf(labels.frame), "MinLabel")
    release(labels.frame)
  }
}
