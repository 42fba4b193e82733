package graft

import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The jobless table open: `Tables.open` takes the schema from one
  * footer on the driver, so opening a table submits no Spark job, and
  * the schema is the one Spark's own inference gives.
  */
class TablesSpec extends GraftSuite {
  private val sfDirs = Option(new java.io.File("/root/testdata").listFiles())
    .getOrElse(Array.empty)
    .filter(f => f.isDirectory && f.getName.startsWith("sf"))
    .map(_.getAbsolutePath).sorted.toSeq

  /** The Spark jobs `body` submits, counted by a listener; a marker job
    * run after `body` drains the event bus up to it.
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .exists(_.getProperty("graft.tablesSpec") == "marker"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.tablesSpec", "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.tablesSpec", null)
      var jobs = 0
      while (!starts.take()) jobs += 1
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def path(sfDir: String, t: String) = s"$sfDir/$t.parquet"

  test("the job counter sees one RDD action, and Spark's own schema " +
    "inference as a job") {
    assert(jobsIn(spark.sparkContext.parallelize(1 to 3, 2).count())._2 === 1)
    for (sfDir <- sfDirs.take(1))
      assert(jobsIn(spark.read.parquet(path(sfDir, "region")))._2 >= 1)
  }

  for (sfDir <- sfDirs)
    test(s"opening each table runs no Spark job ($sfDir)") {
      for (t <- Tables.names) {
        val (_, jobs) = jobsIn {
          val df = Tables.open(spark, path(sfDir, t))
          if (t == "events") Tables.normalizeEventsTs(df) else df
        }
        assert(jobs === 0, s"opening $t ran $jobs job(s)")
      }
    }

  for (sfDir <- sfDirs)
    test(s"each table opens to the schema Spark infers, events.ts " +
      s"included ($sfDir)") {
      for (t <- Tables.names)
        assert(Tables.open(spark, path(sfDir, t)).schema ===
          spark.read.parquet(path(sfDir, t)).schema, t)
    }

  test("a multi-file directory written by Spark opens to the schema " +
    "Spark infers: row-metadata field metadata and partition columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables")
    try {
      val out = s"$dir/t.parquet"
      spark.range(0L, 40L, 1L, 4).select(
        col("id"),
        col("id").cast("short").as("sh",
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("comment", "kept only in the row metadata").build()),
        (col("id") % 3).cast("int").as("k"),
        array(col("id").cast("float")).as("v"))
        .write.partitionBy("k").parquet(out)
      val inferred = spark.read.parquet(out)
      assert(inferred.schema("sh").metadata.contains("comment"))
      val opened = Tables.open(spark, out)
      assert(opened.schema === inferred.schema)
      assert(rows(opened) === rows(inferred))
      assert(jobsIn(Tables.open(spark, out))._2 === 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("events with TIMESTAMP(NANOS) ts: read as long and normalized " +
    "under nanosAsLong, refused with the conf advice without it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      val schema = MessageTypeParser.parseMessageType("message events " +
        "{ required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      val g = new SimpleGroupFactory(schema)
      try (1L to 3L).foreach(i =>
        w.write(g.newGroup().append("event_id", i).append("ts", i * 1500L)))
      finally w.close()
      val ts = Tables(spark, dir.toString, "events").select(col("ts"))
      assert(ts.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
      assert(ts.selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
        .toSeq === Seq(1L, 3L, 4L))
      spark.conf.set(key, "false")
      val e = intercept[IllegalStateException](
        Tables(spark, s"$dir/", "events"))
      assert(e.getMessage.contains(key) && e.getMessage.contains("NANOS"),
        e.getMessage)
    } finally {
      spark.conf.set(key, "true")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a missing path fails with the path in its message") {
    val missing = "/nonexistent/graft-tables-spec/none.parquet"
    val e = intercept[Exception](Tables.open(spark, missing))
    assert(Option(e.getMessage).exists(_.contains(missing)), e.getMessage)
  }
}
