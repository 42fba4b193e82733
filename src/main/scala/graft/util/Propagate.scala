package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graftbridge.SqlBridge

/** The one propagate step: the message–aggregate–combine round of
  * Gelly's vertex-centric iterations (GraphX's `aggregateMessages`) for
  * every reach and relax loop, and its DuckDB twin. Each round sends a
  * message along every directed edge from its sender's value, and each
  * vertex keeps the `min` (or `max`) of its old value and the messages
  * it received:
  *
  *   value(v) := agg(value(v), msg(e, value(u)) for every edge e = u → v)
  *
  * A vertex without a value joins once a message reaches it. Under a
  * monotone message the fixpoint is unique, so the Spark loop and an SQL
  * unroll of at least as many rounds agree whenever the loop converges
  * within its cap. DESIGN.md "One propagate step" states the contract.
  */
private[graft] object Propagate {
  /** Runs rounds from `start` (columns `id` and one value column, of
    * `rows` rows, or [[Fixpoint.Unprobed]] for a seed the caller did not
    * count) over the directed `edges` (`src`, `dst`, and any columns
    * `msg` reads) until a round changes no row or `cap` rounds have run,
    * `perStep` rounds per [[SqlBridge.pinnedSum]]. `msg` is a column over
    * the edge columns and the sender's value (under the value column's
    * name); a null message sends nothing. `edges` should already be
    * pinned, as every round joins it.
    *
    * With `perStep` 2 the second round reads the first round's aggregate
    * twice, as old rows and as senders, and the two reads share one
    * exchange only while their plans match. So the messages join the old
    * rows by position under their own name (an alias that keeps the
    * value's name is redundant, and the optimizer drops it in one read
    * only), and a reach passes the sender's value on rather than a
    * literal (which would prune the value from the sender read only):
    * either mismatch costs a job per step.
    *
    * A row changed when its id is new or its value moved: the old value
    * rides the round's one aggregation as `inc` (one old row per id, so
    * `agg(inc)` recovers it; messages carry null, which `agg` skips), and
    * the count of changed rows is the probe, with [[Fixpoint.Zero]]. Each
    * round releases the pin it superseded, and the loop the last one, so
    * of the kernel's pins only the returned frame stays pinned; `start`
    * stays the caller's.
    *
    * Returns the [[Fixpoint.Result]] whose frame is (id, value).
    */
  def apply(start: DataFrame, rows: Long, edges: DataFrame, msg: Column,
      agg: Column => Column, cap: Int, perStep: Int = 1): Fixpoint.Result = {
    val v = start.columns(1)
    val noInc = lit(null).cast(start.schema(v).dataType)
    def round(cur: DataFrame): DataFrame = cur
      .select(col("id"), col(v), col(v).as("inc"))
      .union(edges
        .join(cur.select(col("id").as("src"), col(v)), Seq("src"))
        .select(col("dst").as("id"), msg.as("msg"), noInc.as("inc"))
        .filter(col("msg").isNotNull))
      .groupBy(col("id")).agg(agg(col(v)).as(v), agg(col("inc")).as("inc"))
    var superseded: Option[DataFrame] = None
    val fix = Fixpoint(start, rows, rows,
        when(col("inc").isNull || col("inc") =!= col(v), 1L).otherwise(0L),
        cap, Fixpoint.Zero, perStep) { (cur, _) =>
      superseded.foreach(SqlBridge.release)
      superseded = Some(cur).filter(_ ne start)
      (1 to perStep).foldLeft(cur)((f, _) => round(f))
    }
    superseded.foreach(SqlBridge.release)
    fix.copy(frame = fix.frame.select(col("id"), col(v)))
  }

  /** The DuckDB twin of `rounds` rounds: the CTEs `<p>1` … `<p>rounds`,
    * each (id, v), in the idiom of [[MinLabel.sql]]. The caller defines
    * `<p>0` as (id, v); `edges` is a relation with columns (src, dst, …);
    * `msg` is an SQL expression over the edge `e` and the sender's row
    * `s`, and `agg` is `MIN` or `MAX`.
    */
  def sql(p: String, edges: String, msg: String, agg: String,
      rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = s"$p${r - 1}"
      s"""$p$r AS MATERIALIZED (
         |  SELECT id, $agg(v) AS v FROM (
         |    SELECT id, v FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS id, $msg AS v
         |    FROM $edges e JOIN $prev s ON s.id = e.src)
         |  WHERE v IS NOT NULL GROUP BY id)""".stripMargin
    }.mkString(",\n")
}
