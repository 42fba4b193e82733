package graft.util

import org.apache.spark.SparkContext
import scala.concurrent.{ExecutionContext, Future}

/** The local properties that tag each Spark job with what submitted it:
  * [[Key]], the entry a main runs (set by `Bench`, `Verify` and `Prof`),
  * and [[Round]], the loop round ([[Fixpoint]] sets it around each
  * step). Local properties belong to the submitting thread; Spark copies
  * them onto the threads adaptive execution submits from, so those jobs
  * carry the tags too. [[graft.JobLog]] reads them from each job-start
  * event. No job group is set: benchmark harnesses own those.
  */
object JobTags {
  val Key = "graft.key"
  val Round = "graft.round"

  /** Runs `body` with `tag` set to `value` (null: unset) in this thread,
    * then restores the tag's previous value.
    */
  def within[T](sc: SparkContext, tag: String, value: String)(
      body: => T): T = {
    val prev = sc.getLocalProperty(tag)
    sc.setLocalProperty(tag, value)
    try body finally sc.setLocalProperty(tag, prev)
  }

  /** `Future(body)` under the calling thread's tags: a pooled thread
    * keeps the properties of the thread that created it, not of the
    * caller.
    */
  def future[T](sc: SparkContext)(body: => T)(
      implicit ec: ExecutionContext): Future[T] = {
    val (key, round) = (sc.getLocalProperty(Key), sc.getLocalProperty(Round))
    Future(within(sc, Key, key)(within(sc, Round, round)(body)))
  }
}
