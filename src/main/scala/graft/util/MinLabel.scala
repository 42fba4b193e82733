package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.graftbridge.SqlBridge

/** The one min-label kernel: the message–min–combine step of Gelly's
  * vertex-centric iterations (GraphX's `aggregateMessages`) for every
  * label-propagation loop, and its DuckDB twin. One schedule, the fused
  * round
  *
  *   label(v) := min(label(v), min over edges u → v of label(u),
  *                   label(label(v)))
  *
  * from label(v) = v: the edge hop and the pointer jump read the same
  * previous round. Over both orientations of undirected edges the
  * fixpoint is the min id of v's connected component; over directed
  * edges it is the min id of v's ancestors (v included). The fixpoint is
  * unique, so the Spark loop and an SQL unroll of at least as many rounds
  * agree whenever the loop converges within its cap. DESIGN.md "One
  * min-label kernel" states the contract.
  */
private[graft] object MinLabel {
  /** Runs fused rounds over the vertices `ids` (column `id`) and the
    * directed `edges` (`src`, `dst`: dst takes src's label) until no
    * label moves or `cap` rounds have run, one [[SqlBridge.pinnedSum]]
    * per round; the label sum, monotone non-increasing, is the probe.
    * Every edge endpoint must be in `ids`; `edges` should already be
    * pinned, as every round joins it.
    *
    * The hop's and the jump's projections of the label frame are the
    * same plan up to names, so one broadcast serves both joins. That is
    * why every vertex pushes every round: a frontier (only labels that
    * dropped last round push) would change no round's values, but its
    * filtered copy is a second broadcast, one job more per round
    * (DESIGN.md "One min-label kernel").
    *
    * Returns the [[Fixpoint.Result]] whose frame is (id, label).
    */
  def apply(ids: DataFrame, edges: DataFrame, cap: Int): Fixpoint.Result = {
    val (start, n, s) = SqlBridge.pinnedSum(
      ids.select(col("id"), col("id").as("label")), col("label"))
    val fix = Fixpoint(start, n, s, col("label"), cap) { (lab, _) =>
      lab
        .unionByName(edges // `hop` aliased as `jump` is: one broadcast
          .join(lab.select(col("id").as("src"), col("label").as("hop")),
            Seq("src"))
          .select(col("dst").as("id"), col("hop").as("label")))
        .unionByName(lab.select(col("id"), col("label").as("to"))
          .join(lab.select(col("id").as("to"), col("label").as("jump")),
            Seq("to"))
          .select(col("id"), col("jump").as("label")))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
    }
    if (fix.frame ne start) SqlBridge.release(start)
    fix
  }

  /** The DuckDB twin of `rounds` fused rounds: the CTEs `<p>1` …
    * `<p>rounds`, each (id, label), in the idiom of the `ZipfSql`
    * prefix. The caller defines `<p>0` as (id, id AS label) over the
    * vertices; `edges` is a relation with columns (src, dst) whose
    * endpoints are all in `<p>0`.
    */
  def sql(p: String, edges: String, rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = s"$p${r - 1}"
      s"""$p$r AS MATERIALIZED (
         |  SELECT x.id, LEAST(x.label, COALESCE(m.label, x.label),
         |    COALESCE(j.label, x.label)) AS label
         |  FROM $prev x
         |  LEFT JOIN (SELECT e.dst AS id, MIN(s.label) AS label
         |             FROM $edges e JOIN $prev s ON s.id = e.src
         |             GROUP BY e.dst) m ON m.id = x.id
         |  LEFT JOIN $prev j ON j.id = x.label)""".stripMargin
    }.mkString(",\n")
}
