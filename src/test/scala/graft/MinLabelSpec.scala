package graft

import graft.streaming.Streams
import graft.util.MinLabel
import scala.util.Random

/** The min-label kernel against plain-Scala references: union-find for
  * undirected edges, the BFS min-ancestor for directed ones, and a direct
  * run of the fused schedule for the labels and the round count (the
  * rounds an oracle unroll of the same cap repeats), plus the streaming
  * CC fold over random batch splits.
  */
class MinLabelSpec extends GraftSuite {
  private type G = (Seq[Long], Seq[(Long, Long)])

  /** `n` ids (some isolated) and `m` random edges among them. */
  private def random(seed: Int, n: Int, m: Int): G = {
    val r = new Random(seed)
    val ids = r.shuffle((0 until n).map(_.toLong * 3 + 1))
    (ids, Seq.fill(m)((ids(r.nextInt(n)), ids(r.nextInt(n))))
      .filter { case (a, b) => a != b }.distinct)
  }

  /** Graphs with ids in every layout the schedule cares about. */
  private val graphs: Seq[(String, G)] = Seq(
    "random 1" -> random(1, 40, 45),
    "random 2" -> random(2, 60, 50),
    "random 3" -> random(3, 30, 80),
    // leaves take a hub whose id is the largest
    "star" -> ((0L to 20L), (0L until 20L).map(i => (20L, i))),
    // 0 at one end, then ids falling away from it: 0 → 24 → 23 → … → 1
    "id-reversed chain" -> ((0L to 24L),
      ((0L +: (24L to 1L by -1L)) zip (24L to 1L by -1L))),
    "ids, no edges" -> ((5L to 9L), Nil))

  private def undirected(e: Seq[(Long, Long)]) =
    e ++ e.map { case (a, b) => (b, a) }

  /** Union-find: the min id of each id's component. */
  private def unionFind(g: G): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(g._1.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, b) <- g._2) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    g._1.map(i => i -> find(i)).toMap
  }

  /** BFS over reversed edges: the min id among each id's ancestors. */
  private def minAncestor(g: G): Map[Long, Long] = {
    val in = g._2.groupMap(_._2)(_._1)
    g._1.map { v =>
      var seen = Set(v)
      var front = Set(v)
      while (front.nonEmpty) {
        front = front.flatMap(in.getOrElse(_, Nil)) -- seen
        seen ++= front
      }
      v -> seen.min
    }.toMap
  }

  /** The fused schedule, every vertex pushing every round: labels,
    * rounds, converged.
    */
  private def fused(g: G, cap: Int): (Map[Long, Long], Int, Boolean) = {
    val in = g._2.groupMap(_._2)(_._1)
    var lab = g._1.map(i => i -> i).toMap
    var (rounds, converged) = (0, g._1.isEmpty)
    while (!converged && rounds < cap) {
      val next = lab.map { case (v, l) =>
        v -> (lab(l) +: l +: in.getOrElse(v, Nil).map(lab)).min
      }
      rounds += 1
      converged = next == lab
      lab = next
    }
    (lab, rounds, converged)
  }

  private def kernel(g: G, cap: Int) = {
    import spark.implicits._
    val fix = MinLabel(g._1.toDF("id"), g._2.toDF("src", "dst"), cap)
    (pairs(fix.frame).toMap, fix.rounds, fix.converged)
  }

  for ((name, g) <- graphs) {
    test(s"undirected $name: labels equal union-find, rounds equal the " +
      "fused schedule") {
      val ug = (g._1, undirected(g._2))
      val got = kernel(ug, 64)
      assert(got._3, "did not converge")
      assert(got._1 === unionFind(g))
      assert(got === fused(ug, 64))
    }

    test(s"directed $name: labels equal the BFS min-ancestor, rounds " +
      "equal the fused schedule") {
      val got = kernel(g, 64)
      assert(got._3, "did not converge")
      assert(got._1 === minAncestor(g))
      assert(got === fused(g, 64))
    }
  }

  test("a capped run reports not converged with the capped rounds' labels") {
    val chain = ((0L to 40L), (0L until 40L).map(i => (i, i + 1)))
    val got = kernel(chain, 3)
    assert(!got._3 && got._2 === 3)
    assert(got === fused(chain, 3))
  }

  test("empty inputs: no ids runs no round; ids without edges one") {
    assert(kernel((Nil, Nil), 8) === ((Map.empty, 0, true)))
    val lone = Seq(4L, 7L)
    assert(kernel((lone, Nil), 8) === ((lone.map(i => i -> i).toMap, 1, true)))
  }

  test("ccFold over random batch splits equals union-find") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val r = new Random(seed)
      val (_, edges) = random(seed + 10, 50, 60)
      val batches = edges.groupBy(_ => r.nextInt(1 + seed)).values
      val (state, ok) = batches.foldLeft(
          (Streams.ccEmptyState(spark), true)) { case ((st, ok), b) =>
        val (next, nok) = Streams.ccFold(st, b.toDF("u", "v"))
        (next, ok && nok)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      assert(ok)
      assert(pairs(state).toMap === unionFind((touched, edges)), s"seed $seed")
    }
  }
}
