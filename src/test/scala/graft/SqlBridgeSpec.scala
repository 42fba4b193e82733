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
    val ids = pagesOf(p)
    assert((cachedRdds() & ids).nonEmpty, "the pin's pages hold no blocks")
    val (_, jobs) = jobsOf("release")(SqlBridge.release(p))
    assert(jobs === 0)
    val deadline = System.nanoTime() + 10000000000L
    while ((cachedRdds() & ids).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert((cachedRdds() & ids).isEmpty, "the pin's pages stayed cached")
  }

  /** `df` and its pin hold the same rows, and the pin measured them. */
  private def roundTrips(df: org.apache.spark.sql.DataFrame): Unit =
    roundTrips(df, rows(df))

  private def roundTrips(df: org.apache.spark.sql.DataFrame,
      expected: Seq[Seq[Any]]): Unit = {
    val (p, n, _) = SqlBridge.pinnedSum(df, lit(0L))
    try {
      assert(p.schema === df.schema)
      assert(n === expected.size.toLong)
      assert(rows(p) === expected)
    } finally SqlBridge.release(p)
  }

  test("a pin round-trips nulls, strings, arrays, maps, structs, " +
    "decimal(38,18) and timestamps") {
    roundTrips(spark.range(0L, 40L, 1L, 3).selectExpr(
      "id",
      "IF(id % 3 = 0, NULL, CONCAT('s', id)) AS s",
      "IF(id % 5 = 0, NULL, ARRAY(id, NULL, id * 2)) AS a",
      "MAP('k', id, 'n', IF(id % 2 = 0, NULL, id)) AS m",
      "NAMED_STRUCT('x', id, 'y', IF(id % 2 = 0, NULL, 'y')) AS st",
      "ARRAY(NAMED_STRUCT('z', CONCAT('z', id))) AS az",
      "IF(id % 4 = 0, NULL, CAST(id * 1.5 - 7 AS DECIMAL(38,18))) AS d",
      "IF(id % 6 = 0, NULL, TIMESTAMP_SECONDS(id * 86399)) AS ts"))
  }

  test("a pin round-trips a plan whose rows are not UnsafeRows") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import spark.implicits._
    val experimental =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    def df = (1L to 20L).map(i => (i, Option.when(i % 3 != 0)(s"r$i")))
      .toDF("generic_rows", "s")
    val expected = rows(df)
    experimental.extraStrategies = Seq(GenericRowsStrategy)
    try {
      val generic = df.queryExecution.executedPlan.execute()
        .mapPartitions(it => Iterator(it.exists(!_.isInstanceOf[UnsafeRow])))
        .collect()
      assert(generic.contains(true), "the plan produced only UnsafeRows")
      roundTrips(df, expected)
    } finally experimental.extraStrategies = Nil
  }

  test("a pin round-trips a row larger than a page") {
    roundTrips(spark.range(0L, 6L, 1L, 1).selectExpr("id",
      "IF(id = 3, REPEAT('x', 3 * 1048576), CAST(id AS STRING)) AS s"))
  }

  test("a pin round-trips empty partitions and a 0-row frame") {
    roundTrips(spark.range(0L, 40L, 1L, 8).toDF().filter(col("id") < 3L))
    roundTrips(frame.filter(lit(false)))
    val (p, n, s) = SqlBridge.pinnedSum(frame.filter(lit(false)), col("s"))
    assert((n, s) === ((0L, 0L)))
    assert(pagesOf(p).nonEmpty && p.collect().isEmpty)
  }

  /** `pinnedSum`'s row count and probe sum equal `count()` and a `sum`
    * aggregate of the probe (0 for no non-null value) over `df`.
    */
  private def measures(df: org.apache.spark.sql.DataFrame,
      probe: org.apache.spark.sql.Column): Unit = {
    val expected = (df.count(),
      df.agg(coalesce(sum(probe.cast("long")), lit(0L))).head().getLong(0))
    val (p, n, s) = SqlBridge.pinnedSum(df, probe)
    try assert((n, s) === expected, s"probe $probe")
    finally SqlBridge.release(p)
  }

  test("pinnedSum's rows and sum equal count() and a sum aggregate: " +
    "literal, nullable long, int and boolean probes, and a 0-row frame") {
    val df = spark.range(0L, 50L, 1L, 3).selectExpr("id",
      "IF(id % 4 = 0, NULL, id * 3) AS nl",
      "CAST(id % 5 AS INT) AS i")
    assert(df.schema("nl").nullable)
    for (frame <- Seq(df, df.filter(lit(false))); probe <- Seq(lit(7L),
        lit(null).cast("long"), col("nl"), col("i"), col("i") * 2 - 3,
        col("nl") > 40, col("id") % 2 === 0))
      measures(frame, probe)
  }

  test("a chain of pins keeps only the last one cached once GC ran") {
    import spark.implicits._
    var state = SqlBridge.pinned((1L to 10L).toDF("k"))
    val first = pagesOf(state).min
    def cachedPins() = cachedRdds().filter(_ >= first)
    // each step reads the last pin through a narrow union, so the
    // partitions of the lineage it cuts point at that pin
    (1 to 5).foreach { i =>
      state = SqlBridge.pinned(state.unionByName(
        (1L to 10L).map(_ + 10L * i).toDF("k")))
    }
    assert(state.count() === 60L)
    val last = pagesOf(state)
    val deadline = System.nanoTime() + 10000000000L
    while (cachedPins() != last && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    assert(cachedPins() === last, "superseded pins stayed cached")
    SqlBridge.release(state)
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

/** Plans a local relation whose first column is named `generic_rows` as
  * a scan over three partitions that yields `GenericInternalRow`s: a
  * plan whose rows are not `UnsafeRow`s.
  */
object GenericRowsStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
  def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    plan match {
      case l: LocalRelation
          if l.output.headOption.exists(_.name == "generic_rows") =>
        Seq(GenericRowsExec(l.output)(l.data.map(_.toSeq(l.schema).toArray)))
      case _ => Nil
    }
}

final case class GenericRowsExec(
    output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])(
    values: Seq[Array[Any]])
    extends org.apache.spark.sql.execution.LeafExecNode {
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(values)
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    sparkContext.parallelize(values, 3)
      .map(v => new GenericInternalRow(v): InternalRow)
}
