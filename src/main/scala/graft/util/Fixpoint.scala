package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.SqlBridge

/** The one convergence loop of the iterative layer: every pinned
  * fixpoint supplies only its update `step`, and this driver owns the
  * pin, the probe, the round cap and the `converged` outcome (the
  * iteration-runner shape of Gelly's vertex-centric iterations and of
  * GraphX's Pregel operator). DESIGN.md "Fixpoint driver" states the
  * contract.
  */
object Fixpoint {
  /** When a step's probe sum ends the loop. */
  sealed trait Stop

  /** The sum equals the sum before the step: a monotone sum (a label
    * sum, or the row count under `lit(1L)`) stopped moving.
    */
  case object Unchanged extends Stop

  /** The sum is 0: the step changed nothing, or nothing is left. */
  case object Zero extends Stop

  /** Rows of a start frame the caller did not probe (a lazy seed): the
    * start rule does not apply and the first step always runs.
    */
  val Unprobed: Long = -1L

  /** The last pinned frame with the rows and probe sum its pin
    * measured, the rounds run, and whether the stop rule (not the cap)
    * ended the loop.
    */
  final case class Result(frame: DataFrame, rows: Long, sum: Long,
      rounds: Int, converged: Boolean)

  /** Runs `step` from `start` until `stop` holds or `cap` rounds have
    * run. `start` is already pinned (or lazy, with `rows` =
    * [[Unprobed]]); `rows` and `sum` are what its pin measured, and a
    * start with 0 rows is converged before any step. Each step covers
    * `perStep` rounds and receives the frame and the round it ends on;
    * the driver pins its result fused with `probe` in one Spark job
    * ([[SqlBridge.pinnedSum]]). Every job a step runs carries the round
    * as the [[JobTags.Round]] tag, set in the thread that runs the step.
    */
  def apply(start: DataFrame, rows: Long, sum: Long, probe: Column,
      cap: Int, stop: Stop = Unchanged, perStep: Int = 1)(
      step: (DataFrame, Int) => DataFrame): Result = {
    val sc = start.sparkSession.sparkContext
    @annotation.tailrec
    def loop(cur: Result): Result =
      if (cur.converged || cur.rounds >= cap) cur
      else {
        val round = cur.rounds + perStep
        val (next, n, s) = JobTags.within(sc, JobTags.Round, round.toString)(
          SqlBridge.pinnedSum(step(cur.frame, round), probe))
        loop(Result(next, n, s, round, stop match {
          case Unchanged => s == cur.sum
          case Zero => s == 0L
        }))
      }
    loop(Result(start, rows, sum, 0, converged = rows == 0L))
  }

  /** SQL boolean over an oracle unroll's CTEs `<p>0` … `<p>n`: round `n`
    * added no row that round `n - 1` lacked, so the unroll reached the
    * fixpoint. Exact for every unroll whose ids only grow, reach sets
    * included (a moved value is a new row).
    */
  def convergedSql(p: String, n: Int): String =
    s"NOT EXISTS (SELECT * FROM $p$n EXCEPT SELECT * FROM $p${n - 1})"
}
