// A deliberate package escape hatch (cf. SNIPPETS.md [2], the pattern
// Spark's own `package object sql` uses): `ExpressionUtils.column` — the
// only public-API-free way to wrap a custom Catalyst Expression into a
// Column in Spark 4 — is `private[sql]`, so this one-object bridge lives in
// a subpackage of org.apache.spark.sql. Nothing else in the engine leaves
// the graft namespace.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

object SqlBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression from a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The engine's one lineage cut: [[pinnedSum]] without a probe. */
  def pinned(df: DataFrame): DataFrame = pinnedSum(df, lit(0L))._1

  /** Materializes `df` behind a lineage cut and measures it in the same
    * job: returns the pinned frame, its row count and the sum of the
    * integer `probe` over its rows (nulls skipped, 0 when empty), e.g.
    * `lit(1L)` for the row count alone or a loop's convergence probe.
    *
    * The cut is a lazy checkpoint: `localCheckpoint` (executor-local
    * blocks; a lost executor kills the truncated lineage at cluster
    * scale), or the reliable `checkpoint` into the context's checkpoint
    * dir when the session sets `graft.reliableCheckpoint=true` (or the
    * GRAFT_RELIABLE_CHECKPOINT=true env as the default); the file write
    * is reliability's extra job; it reads the rows the fill persisted
    * (freed by [[release]]) instead of computing the frame's last stage
    * again. Under adaptive execution the lazy cut
    * runs the frame's shuffle-map jobs, and one RDD action over the
    * checkpointed rows then fills the checkpoint and folds
    * `(count, sum(probe))`: the same jobs as an eager `localCheckpoint()`,
    * whose internal count fills it.
    *
    * The frame is rebuilt over the same checkpointed RDD, keeping its
    * output partitioning and ordering, with MEASURED statistics: the
    * row count times the schema's default row width. Spark's own rewrite
    * carries the source plan's size ESTIMATE through the checkpoint, and
    * in a loop whose state feeds back into its joins those products
    * COMPOUND (k pinned self-joins yield a BigInteger with ~2^k digits,
    * and the driver stalls in BigInteger.multiply while planning).
    * Measured stats restart the estimate chain from ground truth at
    * every pin, so broadcast decisions downstream still see honest sizes.
    */
  def pinnedSum(df: DataFrame, probe: Column): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val flag = ds.sparkSession.conf.get("graft.reliableCheckpoint",
      sys.env.getOrElse("GRAFT_RELIABLE_CHECKPOINT", "false"))
    val reliable = flag == "true" || flag == "1"
    val ck =
      if (reliable) ds.checkpoint(eager = false)
      else ds.localCheckpoint(eager = false)
    val cut = ck.queryExecution.analyzed match { case l: LogicalRDD => l }
    if (reliable) cut.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val (rows, s) = ck.select(probe.cast("long")).queryExecution.toRdd
      .aggregate((0L, 0L))(
        (a, r) => (a._1 + 1L, if (r.isNullAt(0)) a._2 else a._2 + r.getLong(0)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    val width = 8L + cut.output.map(_.dataType.defaultSize.toLong).sum
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(rows, 1L)) * width,
      rowCount = Some(BigInt(rows)))
    val plan = cut.copy()(ck.sparkSession, Some(stats), None)
    (org.apache.spark.sql.classic.Dataset.ofRows(ck.sparkSession, plan),
      rows, s)
  }

  /** Releases the blocks of every pin `df` reads: the checkpointed RDD
    * under each of its [[LogicalRDD]] leaves. `Dataset.unpersist` does
    * not reach them (a pin is not in the cache manager), so a memo that
    * holds pins releases them here on evict. Runs no job; a released pin
    * must not be read again.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
}
