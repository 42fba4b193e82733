package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

/** The pin layer: its job cost against an eager `localCheckpoint`, and
  * its checkpoint-mode switch (VERDICT r17 item 7). By default every pin
  * is a localCheckpoint (executor-local blocks — fast, but a lost
  * executor kills the truncated lineage at cluster scale);
  * `graft.reliableCheckpoint=true` routes pins through the reliable
  * `Dataset.checkpoint` against `spark.checkpoint.dir`. Values and the
  * measured-stats rebuild must be identical on both paths.
  */
class SqlBridgeSpec extends GraftSuite {

  private def frame = {
    import spark.implicits._
    (1L to 100L).map(i => (i, i % 7)).toDF("id", "k")
      .groupBy(col("k")).agg(sum(col("id")).as("s"))
  }

  /** Runs `body` with pins routed to the reliable checkpoint under a
    * fresh checkpoint dir; returns its result and the files written.
    */
  private def reliably[T](body: => T): (T, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("graft.reliableCheckpoint", "true")
    val out =
      try body finally spark.conf.set("graft.reliableCheckpoint", "false")
    (out, java.nio.file.Files.walk(dir)
      .filter(java.nio.file.Files.isRegularFile(_)).count())
  }

  test("a pin runs no more jobs than an eager localCheckpoint") {
    val (_, eager) = jobsOf("eager")(frame.localCheckpoint())
    val (_, pin) = jobsOf("pinned")(SqlBridge.pinned(frame))
    val (_, fused) = jobsOf("pinnedSum")(SqlBridge.pinnedSum(frame, col("s")))
    assert(pin <= eager && fused <= eager,
      s"eager $eager, pinned $pin, pinnedSum $fused jobs")
  }

  test("release frees a pin's blocks and runs no job") {
    val p = SqlBridge.pinned(frame)
    def cached() = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val ids = p.queryExecution.analyzed.collectLeaves()
      .map(_.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id)
      .toSet
    assert((cached() & ids).nonEmpty, "the pin holds no blocks")
    val (_, jobs) = jobsOf("release")(SqlBridge.release(p))
    assert(jobs === 0)
    val deadline = System.nanoTime() + 10000000000L
    while ((cached() & ids).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert((cached() & ids).isEmpty, "the pin's blocks stayed cached")
  }

  test("pinned: default path is a localCheckpoint with measured stats") {
    val expected = frame.collect().map(_.toSeq).toSet
    val p = SqlBridge.pinned(frame)
    assert(p.collect().map(_.toSeq).toSet === expected)
    // measured stats: the rebuilt LogicalRDD carries the true row count
    val stats = p.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(7)))
  }

  test("pinned + pinnedSum honor graft.reliableCheckpoint=true (same " +
    "values, same stats, checkpoint files written under the dir)") {
    val expected = frame.collect().map(_.toSeq).toSet
    val (_, wrote) = reliably {
      val p = SqlBridge.pinned(frame)
      assert(p.collect().map(_.toSeq).toSet === expected)
      assert(p.queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(7)))
      val (ps, rows, s) = SqlBridge.pinnedSum(frame, col("s"))
      assert(rows === 7L)
      assert(s === (1L to 100L).sum)
      assert(ps.collect().map(_.toSeq).toSet === expected)
    }
    // the reliable path must actually write under the checkpoint dir
    assert(wrote > 0, "no checkpoint files under the checkpoint dir")
  }

  test("a reliable pin computes each row once: the checkpoint write " +
    "reads the rows the fill persisted") {
    val calls = spark.sparkContext.longAccumulator("reliable-pin-rows")
    val counted = udf { (s: Long) => calls.add(1L); s }
    val ((p, rows, _), _) = reliably(SqlBridge.pinnedSum(
      frame.select(col("k"), counted(col("s")).as("s")), lit(1L)))
    try {
      assert(rows === 7L)
      assert(calls.value === 7L, "the frame's last stage ran twice")
    } finally SqlBridge.release(p)
  }

  test("graft.reliableCheckpoint=true reaches the engine's loop cuts " +
    "(label propagation writes checkpoint files, same labels)") {
    import graft.algorithms.GraphAlgorithms.labelPropagation
    val local = rows(labelPropagation(spark, fixture, 3))
    val (reliable, wrote) =
      reliably(rows(labelPropagation(spark, fixture, 3)))
    assert(reliable === local)
    assert(wrote > 0, "label propagation wrote no checkpoint files")
  }
}
