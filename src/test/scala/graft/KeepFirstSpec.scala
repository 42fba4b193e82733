package graft

import graft.queries.DedupQueries

/** The keep-first closure shared by `stream_dedup_minhash` and
  * `LshDedupMaintainer`, on hand-built (ids, edges, preDropped) frames:
  * the statuses it decides, its round cap, and one pin per round.
  */
class KeepFirstSpec extends GraftSuite {
  import spark.implicits._

  test("keepFirstOf: statuses, the round cap and one pin per round") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // the name of every Dataset action run, in order: a pin is one
    // lineage cut (`localCheckpoint`); the RDD action that fills it is
    // not a Dataset action
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    val cap = DedupQueries.SdmCloseRounds
    def chain(n: Long) = (1L until n).map(i => (i, i + 1))
    // (case, ids 1..n, edges (small, big), preDropped, kept ids, open
    // ids (the rest end dropped), rounds, converged)
    val cases = Seq[(String, Long, Seq[(Long, Long)], Seq[Long], Seq[Long],
        Seq[Long], Int, Boolean)](
      ("a short chain keeps every other id", 5L, chain(5), Nil,
        Seq(1L, 3L, 5L), Nil, 5, true),
      ("a chain past the cap is not converged", cap + 1L, chain(cap + 1L),
        Nil, 1L to cap by 2, Seq(cap + 1L), cap, false),
      ("a pre-dropped seed stays dropped and frees its partner", 4L,
        chain(4), Seq(1L), Seq(2L, 4L), Nil, 3, true),
      ("a kept hub drops every leaf", 4L, Seq(1L -> 2L, 1L -> 3L, 1L -> 4L),
        Nil, Seq(1L), Nil, 2, true))
    // listener events arrive in order and late: a `count` marker flushes
    // them, returning the actions before it and clearing the log
    def flushed(): Seq[String] = {
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!actions.contains("count") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = actions.toArray.toSeq.map(_.toString).takeWhile(_ != "count")
      actions.clear()
      seen
    }
    spark.listenerManager.register(listener)
    try for ((name, n, edges, pre, kept, open, rounds, conv) <- cases) {
      flushed() // the previous case's status `collect`, if still in flight
      val r = DedupQueries.keepFirstOf((1L to n).toDF("v"),
        edges.toDF("small", "big"), pre.toDF("v"))
      val run = flushed()
      val cuts = run.count(_ == "localCheckpoint")
      assert(cuts === 1 + r.rounds && run.size === cuts,
        s"$name: the seed pin and one pin per round, got $run")
      assert(r.rounds === rounds, s"$name: rounds")
      assert(r.converged === conv, s"$name: converged")
      val want = (1L to n).map(v => v ->
        (if (kept.contains(v)) "kept" else if (open.contains(v)) "open"
         else "dropped")).toMap
      assert(r.frame.collect().map(x => x.getLong(0) -> x.getString(1))
        .toMap === want, s"$name: statuses")
    } finally spark.listenerManager.unregister(listener)
  }
}
