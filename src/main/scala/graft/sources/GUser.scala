package graft.sources

import graft.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The second test graph **G_user** (SURVEY §2 preamble): cyclic,
  * self-loop-bearing user graph over the event log —
  *
  *  - vertices: distinct `user_id`s, value = the user's event count.
  *  - edges: `src = user_id`, `dst = user_id` of the NEXT event of the
  *    same `event_type` in event-log order (`event_id` — verified monotone
  *    in `ts`, and pure-integer ordering is bit-identical across engines,
  *    unlike nanosecond-vs-microsecond timestamp ties); weight = number
  *    of such successions per (src, dst) pair.
  *
  * A user following themself in a type stream yields a SELF-LOOP, and the
  * succession relation is naturally cyclic — the convergence/termination
  * stresses bipartite G_trade cannot produce (no odd cycles, no loops).
  *
  * Scale notes (100 TB design): the textbook construction is
  * `lead(user_id) OVER (PARTITION BY event_type ORDER BY event_id)` — and
  * that window is a scale-killer: `event_type` has a HANDFUL of distinct
  * values, so each task would sort a whole type's history (~17 TB per
  * type at the target scale). Instead the successor pairs are built in
  * two phases, the same discipline as shard_pack's distributed prefix
  * sum:
  *
  *  1. range-partition by `(event_type, event_id)` + in-partition sort —
  *     every partition holds a contiguous slice, so within-partition
  *     adjacency is one sequential pass (`mapPartitions`, the genuinely
  *     imperative per-partition step);
  *  2. stitch ACROSS partitions from per-run boundary summaries — one
  *     `(partition, type, first_user, last_user)` row per contiguous type
  *     run, ≤ P + |types| rows total collected to the driver (metadata,
  *     never data rows — same bounded-collect contract as shard_pack and
  *     the IVF router).
  *
  * The pair SET is partitioning-independent by construction, so the
  * DuckDB oracle can use the plain window form
  * ([[graft.queries.UserGraphQueries.SqlPrefix]]) — identical semantics,
  * engine-appropriate physical plans on each side.
  */
object GUser extends GraphSource {
  private val cache = new graft.util.SessionMemo[String, Graph](g => {
    g.vertices.unpersist(false); g.edges.unpersist(false)
  })

  /** ~64k events per range partition: a few MB per task, and the stitch
    * metadata stays ≤ P + |types| rows.
    */
  private val RowsPerPart = 65536L

  /** Build from an explicit events frame (unit-test seam; `forcedParts`
    * pins the range-partition count so tests exercise the cross-partition
    * stitch at small row counts).
    */
  def fromEvents(s: SparkSession, events: DataFrame,
                 forcedParts: Int = 0): Graph = {
    import s.implicits._
    val ev = events.select(col("event_type").cast("string").as("_1"),
      col("event_id").cast("long").as("_2"),
      col("user_id").cast("long").as("_3"))
      .as[(String, Long, Long)]
    val nEvents = ev.count()
    val parts = if (forcedParts > 0) forcedParts
      else math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nEvents / RowsPerPart + 1).toInt))
    val parted = ev
      .repartitionByRange(parts, col("_1"), col("_2"))
      .sortWithinPartitions(col("_1"), col("_2"))
    // One pass per partition: within-run successor pairs (tag 0: src, dst)
    // plus one boundary summary per contiguous type run (tag 1: first,
    // last, type, pid). Types are contiguous after the sort, so a run
    // flushes when the type changes — O(1) state, no buffering of rows.
    val tagged = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var curTyp: String = null
      var firstU = 0L
      var prevU = 0L
      val out = Iterator.newBuilder[(Int, Long, Long, String, Int)]
      for ((t, _, u) <- it) {
        if (t == curTyp) { out += ((0, prevU, u, null, -1)); prevU = u }
        else {
          if (curTyp != null) out += ((1, firstU, prevU, curTyp, pid))
          curTyp = t; firstU = u; prevU = u
        }
      }
      if (curTyp != null) out += ((1, firstU, prevU, curTyp, pid))
      out.result()
    }.persist()
    // Bounded driver collect (≤ P + |types| rows): per type, consecutive
    // partitions' (last → first) users are the pairs the in-partition
    // pass cannot see.
    val runs = tagged.filter(_._1 == 1)
      .map { case (_, f, l, t, p) => (t, p, f, l) }.collect()
    val stitched = runs.groupBy(_._1).iterator.flatMap { case (_, rs) =>
      rs.sortBy(_._2).toList.sliding(2).collect {
        case List(a, b) => (a._4, b._3)
      }
    }.toSeq
    val pairs = tagged.filter(_._1 == 0).map { case (_, a, b, _, _) => (a, b) }
      .union(s.sparkContext.parallelize(stitched,
        math.max(1, stitched.size / 4096 + 1)))
    val edges = pairs.toDF("src", "dst")
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("value"))
    val vertices = events
      .groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).cast("double").as("value"))
    val g = Graph(vertices.persist(), edges.persist())
    g.vertices.count(); g.edges.count()
    tagged.unpersist(blocking = false)
    g
  }

  /** The persisted graph; the two-phase build runs once per
    * (session, sfDir) and every G_user operator reuses it.
    */
  def apply(s: SparkSession, dir: String): Graph =
    cache(s, dir)(fromEvents(s, Tables(s, dir, "events")))

  /** Force-materialize the shared build (bench `_build:guser` hook). */
  def warm(s: SparkSession, dir: String): Unit = {
    val g = apply(s, dir)
    g.vertices.count(); g.edges.count(); ()
  }
}
