package graft

import graft.util.Propagate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, max, min, when}
import scala.util.Random

/** The propagate kernel against plain-Scala references: BFS for single-
  * and multi-source reach, a topological-order DP for longest-path layers
  * and a label-correcting worklist for earliest arrival, plus a direct run
  * of the synchronous schedule for the values and the round count (the
  * rounds an oracle unroll of the same cap repeats).
  */
class PropagateSpec extends GraftSuite {
  /** A directed edge (src, dst, w): `w` is a contact time where the
    * message reads one, and unused otherwise.
    */
  private type E = (Long, Long, Long)

  /** `n` ids (in a shuffled layout) and up to `m` random edges among
    * them, with times in [0, 20).
    */
  private def random(seed: Int, n: Int, m: Int): (Seq[Long], Seq[E]) = {
    val r = new Random(seed)
    val ids = r.shuffle((0 until n).map(_.toLong * 3 + 1))
    (ids, Seq.fill(m)((ids(r.nextInt(n)), ids(r.nextInt(n)),
      r.nextInt(20).toLong)).filter { case (a, b, _) => a != b }.distinct)
  }

  /** The synchronous schedule in plain Scala: every round each vertex
    * keeps `agg` of its value and the messages along its in-edges; a
    * batch of `perStep` rounds stops the run when its last round changed
    * no row. Returns the values, rounds and whether the stop rule ended
    * the run.
    */
  private def sync(start: Map[Long, Long], edges: Seq[E],
      msg: (E, Long) => Option[Long], agg: (Long, Long) => Long, cap: Int,
      perStep: Int = 1): (Map[Long, Long], Int, Boolean) = {
    def round(cur: Map[Long, Long]): (Map[Long, Long], Int) = {
      val sent = for {
        e <- edges; sv <- cur.get(e._1).toSeq; m <- msg(e, sv).toSeq
      } yield e._2 -> m
      val next = (cur.toSeq ++ sent).groupMapReduce(_._1)(_._2)(agg)
      (next, next.count { case (id, v) => !cur.get(id).contains(v) })
    }
    var (cur, rounds, converged) = (start, 0, start.isEmpty)
    while (!converged && rounds < cap) {
      var changed = 0
      for (_ <- 1 to perStep) { val (n, c) = round(cur); cur = n; changed = c }
      rounds += perStep
      converged = changed == 0
    }
    (cur, rounds, converged)
  }

  private def kernel(start: Map[Long, Long], edges: Seq[E], msg: Column,
      agg: Column => Column, cap: Int, perStep: Int = 1) = {
    import spark.implicits._
    val fix = Propagate(start.toSeq.toDF("id", "x"), start.size.toLong,
      edges.toDF("src", "dst", "w"), msg, agg, cap, perStep)
    (pairs(fix.frame).toMap, fix.rounds, fix.converged)
  }

  /** Reach: a constant message under min. */
  private def reach(sources: Seq[Long], edges: Seq[E], cap: Int,
      perStep: Int = 1) = {
    val start = sources.map(_ -> 0L).toMap
    (kernel(start, edges, lit(0L), min, cap, perStep),
      sync(start, edges, (_, _) => Some(0L), math.min, cap, perStep))
  }

  /** BFS: every id reachable from `sources`. */
  private def bfs(sources: Seq[Long], edges: Seq[E]): Set[Long] = {
    val out = edges.groupMap(_._1)(_._2)
    var (seen, front) = (sources.toSet, sources.toSet)
    while (front.nonEmpty) {
      front = front.flatMap(out.getOrElse(_, Nil)) -- seen
      seen ++= front
    }
    seen
  }

  for (seed <- 1 to 3) {
    val (ids, edges) = random(seed, 50, 70)

    test(s"random graph $seed: single-source reach equals BFS, rounds " +
      "equal the synchronous schedule") {
      val (got, want) = reach(Seq(ids.head), edges, 64)
      assert(got._3, "did not converge")
      assert(got._1.keySet === bfs(Seq(ids.head), edges))
      assert(got === want)
    }

    test(s"random graph $seed: multi-source reach equals BFS, rounds " +
      "equal the synchronous schedule") {
      val sources = ids.take(4)
      val (got, want) = reach(sources, edges, 64)
      assert(got._3, "did not converge")
      assert(got._1.keySet === bfs(sources, edges))
      assert(got === want)
    }

    test(s"random DAG $seed: max layers equal the longest path, rounds " +
      "equal the synchronous schedule") {
      // orient every edge from the earlier to the later id in `ids`
      val rank = ids.zipWithIndex.toMap
      val dag = edges.map { case (a, b, w) =>
        if (rank(a) < rank(b)) (a, b, w) else (b, a, w)
      }.distinct
      val in = dag.groupMap(_._2)(_._1)
      val longest = ids.foldLeft(Map.empty[Long, Long]) { (acc, v) =>
        acc + (v -> in.getOrElse(v, Nil).map(acc(_) + 1).maxOption
          .getOrElse(0L))
      }
      val start = ids.map(_ -> 0L).toMap
      val got = kernel(start, dag, col("x") + 1L, max, 64)
      assert(got._3, "did not converge")
      assert(got._1 === longest)
      assert(got === sync(start, dag, (_, sv) => Some(sv + 1), math.max, 64))
    }

    test(s"random contacts $seed: earliest arrival equals a worklist " +
      "run, rounds equal the synchronous schedule") {
      val src = ids.head
      // label-correcting worklist: relax contacts until none improves
      val arr = scala.collection.mutable.Map(src -> 0L)
      var moved = true
      while (moved) {
        moved = false
        for ((u, v, t) <- edges; au <- arr.get(u) if t >= au &&
            arr.get(v).forall(t < _)) {
          arr(v) = t; moved = true
        }
      }
      val start = Map(src -> 0L)
      val got = kernel(start, edges,
        when(col("w") >= col("x"), col("w")), min, 64)
      assert(got._3, "did not converge")
      assert(got._1 === arr.toMap)
      assert(got === sync(start, edges,
        (e, sv) => Option.when(e._3 >= sv)(e._3), math.min, 64))
    }
  }

  private val chain: Seq[E] = (0L until 40L).map(i => (i, i + 1, 0L))

  test("a capped run reports not converged with the capped rounds' frame") {
    val (got, want) = reach(Seq(0L), chain, 3)
    assert(!got._3 && got._2 === 3)
    assert(got._1.keySet === (0L to 3L).toSet)
    assert(got === want)
  }

  test("an empty start runs no round") {
    assert(kernel(Map.empty, chain, lit(0L), min, 8) ===
      ((Map.empty, 0, true)))
  }

  test("two rounds per step: values equal BFS, rounds equal the " +
    "synchronous schedule in batches of two") {
    for (seed <- 1 to 3) {
      val (ids, edges) = random(seed + 10, 50, 70)
      val (got, want) = reach(Seq(ids.head), edges, 64, perStep = 2)
      assert(got._3, s"seed $seed did not converge")
      assert(got._2 % 2 === 0)
      assert(got._1.keySet === bfs(Seq(ids.head), edges))
      assert(got === want, s"seed $seed")
    }
    // a capped batch run stops on the cap, not past it
    val (got, want) = reach(Seq(0L), chain, 6, perStep = 2)
    assert(!got._3 && got._2 === 6 && got === want)
  }
}
