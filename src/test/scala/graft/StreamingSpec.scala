package graft

import graft.streaming.Streams
import java.sql.Timestamp
import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Drives the SURVEY §2.10 transforms through REAL Structured Streaming
  * micro-batches (MemoryStream source → memory sink) — watermark
  * advancement, append-mode window emission, within-watermark dedup and
  * update-style state. The batch twins of the same functions are what the
  * DuckDB oracle checks; this spec is the stream-mode half.
  */
class StreamingSpec extends GraftSuite {
  import spark.implicits._
  private implicit def ctx: SQLContext = spark.sqlContext

  private def t(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("tumblingStream emits closed windows once the watermark passes") {
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingStream(mem.toDF())
      .writeStream.format("memory").queryName("t_tumble")
      .outputMode("append").start()
    try {
      // Hour-0 window: 2 views + 1 click.
      mem.addData(Ev(1, t("00:05"), 1, "view", 1.0),
        Ev(2, t("00:20"), 2, "view", 2.0), Ev(3, t("00:40"), 1, "click", 3.0))
      q.processAllAvailable()
      // Append mode: window [00:00,01:00) not emitted before the watermark
      // (max 00:40 − 1h) passes its end.
      assert(spark.table("t_tumble").count() === 0)
      mem.addData(Ev(4, t("02:30"), 3, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(5, t("04:00"), 3, "view", 1.0))
      q.processAllAvailable() // watermark now 01:30 ⇒ hour-0 closed
      val rows = spark.table("t_tumble")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2))
      // Watermark 03:00 (04:00 − 1h) also closes the hour-2 window.
      assert(rows.toSeq === Seq(
        (t("00:00").getTime / 1000, "click", 1L),
        (t("00:00").getTime / 1000, "view", 2L),
        (t("02:00").getTime / 1000, "view", 1L)))
    } finally q.stop()
  }

  test("events_burstiness: periodic gaps read exactly -1, a bursty " +
    "tail reads the hand value") {
    import spark.implicits._
    // type p: events every 10s (gaps 10s x3 -> sigma 0 -> B = -1);
    // type q: gaps 1s,1s,1s,97s -> B = 0.248902 (hand-computed with
    // the same fixed-order chain).
    def at(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val evs =
      (0 to 3).map(i => Ev(i + 1, at(i * 10), 1, "p", 0)) ++
        Seq(0, 1, 2, 3, 100).zipWithIndex.map { case (sec, i) =>
          Ev(10 + i, at(sec), 2, "q", 0)
        }
    val out = graft.queries.StreamQueries
      .burstinessOf(evs.toDF().repartition(3)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq(
      ("p", 3L, 10000000L, -1.0),
      ("q", 4L, 25000000L, 0.248902)))
  }

  test("events_markov_entropy: a determined branch reads H = 0, a " +
    "uniform 2-way branch reads exactly ln(2) micro-nats") {
    import spark.implicits._
    // user 1: a->b, b->a, a->b (a always goes to b; b always to a...
    // build: a,b,a,b -> transitions a->b, b->a, a->b: from a: {b:2}
    // H=0; from b: {a:1} H=0. user 2: c,d then c,e -> from c: {d:1,
    // e:1} uniform -> H = 2 * floor(0.5*ln2*1e6+0.5) = 2*346574.
    val evs = Seq(
      Ev(1, t("00:01"), 1, "a", 0), Ev(2, t("00:02"), 1, "b", 0),
      Ev(3, t("00:03"), 1, "a", 0), Ev(4, t("00:04"), 1, "b", 0),
      Ev(5, t("00:01"), 2, "c", 0), Ev(6, t("00:02"), 2, "d", 0),
      Ev(7, t("00:03"), 3, "c", 0), Ev(8, t("00:04"), 3, "e", 0))
    val out = graft.queries.StreamQueries
      .markovEntropyOf(evs.toDF().repartition(3)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("a", 2L, 1L, 0L, "b", 1000000L),
      ("b", 1L, 1L, 0L, "a", 1000000L),
      ("c", 2L, 2L, 693148L, "d", 500000L)))
  }

  test("events_dow_profile: hand counts, exact shares and signed " +
    "deviations (negative division truncates identically cross-engine)") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Registry.byKey("events_dow_profile")
      .fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === 35) // 5 types × 7 days, all populated
    rows.groupBy(_._1).foreach { case (_, g) =>
      val total = g.map(_._3).sum
      g.foreach { case (_, _, n, share, dev) =>
        assert(share === n * 1000000L / total)
        assert(dev === (n * 7 - total) * 1000000L / (total * 7))
      }
      // shares of a full type sum to ~1e6 (floor loss < 7)
      assert(math.abs(g.map(_._4).sum - 1000000L) < 7)
      assert(g.exists(_._5 > 0) && g.exists(_._5 < 0),
        "deviations must be genuinely two-sided")
    }
  }

  test("stream_window_topk: batch rank over the streamed windowed-count " +
    "sink equals the one-shot key over the closed windows") {
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingStream(mem.toDF())
      .writeStream.format("memory").queryName("t_wtopk")
      .outputMode("append").start()
    try {
      // Hour 0: 3 views, 2 clicks, 1 buy, 1 ship (4 types — ship must
      // be cut at k=3); hour 1: click/view tie broken by type string.
      mem.addData(
        Ev(1, t("00:05"), 1, "view", 0), Ev(2, t("00:10"), 1, "view", 0),
        Ev(3, t("00:15"), 2, "view", 0), Ev(4, t("00:20"), 2, "click", 0),
        Ev(5, t("00:25"), 3, "click", 0), Ev(6, t("00:30"), 3, "buy", 0),
        Ev(7, t("00:35"), 4, "ship", 0),
        Ev(8, t("01:10"), 1, "click", 0), Ev(9, t("01:20"), 2, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(10, t("03:30"), 9, "view", 0)) // watermark 02:30
      q.processAllAvailable()
      val sink = spark.table("t_wtopk")
        .select($"window_start", $"event_type", $"n")
      val got = Streams.rankWindows(sink)
        .orderBy($"window_start", $"rk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      def h(hh: String) = t(hh).getTime / 1000
      assert(got.toSeq === Seq(
        (h("00:00"), "view", 3L, 1L), (h("00:00"), "click", 2L, 2L),
        (h("00:00"), "buy", 1L, 3L),
        (h("01:00"), "click", 1L, 1L), (h("01:00"), "view", 1L, 2L)))
      // equals the one-shot batch key over the same closed windows
      import spark.implicits._
      val closed = Seq(
        Ev(1, t("00:05"), 1, "view", 0), Ev(2, t("00:10"), 1, "view", 0),
        Ev(3, t("00:15"), 2, "view", 0), Ev(4, t("00:20"), 2, "click", 0),
        Ev(5, t("00:25"), 3, "click", 0), Ev(6, t("00:30"), 3, "buy", 0),
        Ev(7, t("00:35"), 4, "ship", 0),
        Ev(8, t("01:10"), 1, "click", 0), Ev(9, t("01:20"), 2, "view", 0))
      val batch = Streams.windowTopk(closed.toDF())
        .orderBy($"window_start", $"rk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("dedupStream drops duplicate event_ids within the watermark") {
    val mem = MemoryStream[Ev]
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t("00:10"), 1, "view", 1.0),
        Ev(2, t("00:20"), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(1, t("00:12"), 1, "view", 1.0)) // dup within watermark
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id")
        .as[Long].collect().sorted
      assert(ids === Array(1L, 2L))
    } finally q.stop()
  }

  test("userCounts maintains running per-user state across batches") {
    val mem = MemoryStream[Ev]
    val q = Streams.userCounts(mem.toDF())
      .writeStream.format("memory").queryName("t_ucount")
      .outputMode("complete").start()
    try {
      mem.addData(Ev(1, t("00:10"), 1, "view", 1.0),
        Ev(2, t("00:20"), 2, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, t("00:30"), 1, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("t_ucount")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rows.toSeq === Seq((1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("file-source stream over events.parquet matches the batch twin") {
    // Real readStream file source over the driver's parquet, normalized
    // with the SAME schema-adaptive helper the batch read uses
    // (Tables.normalizeEventsTs — fixture generations have shipped ts as
    // both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)/NTZ). Complete mode: one
    // replay batch aggregates the whole file; result must equal the
    // batch-mode computation the DuckDB oracle checks.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sfDir = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_stream_src")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // readStream needs an explicit schema: infer the as-shipped one from a
    // batch scan of the same file (NOT a hand-coded literal — the round-6
    // fixture regression proved literals rot).
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamed = graft.sources.Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
    val q = Streams.tumbling(streamed)
      .writeStream.format("memory").queryName("t_file")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = rows(spark.table("t_file"))
      val want = rows(Streams.tumbling(
        graft.sources.Tables(spark, sfDir, "events")))
      assert(got.nonEmpty && got === want)
    } finally q.stop()
  }

  test("userCountsStateful accumulates explicit state across micro-batches") {
    val mem = MemoryStream[Ev]
    val q = Streams.userCountsStateful(mem.toDF())
      .writeStream.format("memory").queryName("t_state")
      .outputMode("update").start()
    try {
      mem.addData(Ev(1, t("00:10"), 1, "view", 1.5),
        Ev(2, t("00:20"), 2, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, t("00:30"), 1, "click", 0.5))
      q.processAllAvailable()
      // Update-mode memory sink appends one row per key per batch; the
      // running state is the max-n row per user.
      val last = spark.table("t_state")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }.toSeq.sorted
      assert(last === Seq((1L, 2L, 2.0), (2L, 1L, 2.0)))
    } finally q.stop()
  }

  test("sessionsStream groups events into 30-minute-gap sessions") {
    val mem = MemoryStream[Ev]
    val q = Streams.sessionsStream(mem.toDF())
      .writeStream.format("memory").queryName("t_sess")
      .outputMode("append").start()
    try {
      // User 1: events at 00:00 and 00:10 (one session), then 01:30 (new
      // session after >30m gap).
      mem.addData(Ev(1, t("00:00"), 1, "view", 1.0),
        Ev(2, t("00:10"), 1, "view", 1.0), Ev(3, t("01:30"), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(4, t("05:00"), 9, "view", 1.0)) // advance watermark
      q.processAllAvailable()
      mem.addData(Ev(5, t("07:00"), 9, "view", 1.0))
      q.processAllAvailable()
      val sess = spark.table("t_sess").filter($"user_id" === 1)
        .collect().map(r => (r.getLong(2))).sorted // n per session
      assert(sess.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("windowFunnelStream: ordering rules hold across out-of-order " +
    "micro-batches, windows emit exactly once on timeout") {
    val mem = MemoryStream[Ev]
    val q = Streams.windowFunnelStream(mem.toDF())
      .writeStream.format("memory").queryName("t_funnel")
      .outputMode("append").start()
    try {
      // User 1, hour-0 window, delivered OUT OF ORDER across two
      // batches: the click at 00:05 precedes the first view (must not
      // anchor the funnel), the purchase at 00:20 precedes the first
      // qualifying click (must not convert) — the kernel must pick
      // view 00:10 → click 00:30 → purchase 00:45 whatever the arrival
      // order, because state buffers the window until the watermark
      // retires it.
      mem.addData(Ev(1, t("00:45"), 1, "purchase", 0),
        Ev(2, t("00:10"), 1, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(3, t("00:05"), 1, "click", 0),
        Ev(4, t("00:20"), 1, "purchase", 0), Ev(5, t("00:30"), 1, "click", 0))
      q.processAllAvailable()
      assert(spark.table("t_funnel").count() === 0,
        "window must not emit before the watermark passes its end")
      mem.addData(Ev(6, t("03:00"), 9, "view", 0)) // watermark → 02:00
      q.processAllAvailable()
      mem.addData(Ev(7, t("05:00"), 9, "view", 0)) // fire pending timeout
      q.processAllAvailable()
      val got = spark.table("t_funnel").filter($"user_id" === 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      def us(hhmm: String) = t(hhmm).getTime * 1000L
      assert(got.toSeq === Seq((1L, t("00:00").getTime / 1000, 5L, 3,
        us("00:10"), us("00:30"), us("00:45"))))
    } finally q.stop()
  }

  test("latestByKeyStream: running argmax equals batch over out-of-order " +
    "micro-batches, same-ts ties break on event_id") {
    val mem = MemoryStream[Ev]
    val q = Streams.latestByKeyStream(mem.toDF())
      .writeStream.format("memory").queryName("t_latest")
      .outputMode("update").start()
    try {
      // Batch 1: user 1's LATER event arrives first (out of order).
      val evs1 = Seq(Ev(5, t("01:00"), 1, "click", 9.0),
        Ev(2, t("00:10"), 1, "view", 1.0), Ev(3, t("00:20"), 2, "view", 2.0))
      mem.addData(evs1: _*)
      q.processAllAvailable()
      // Batch 2: a STALE event for user 1 (must not displace 01:00) and a
      // same-µs tie for user 2 (event_id 7 > 3 wins).
      val evs2 = Seq(Ev(4, t("00:30"), 1, "view", 0.5),
        Ev(7, t("00:20"), 2, "buy", 4.0))
      mem.addData(evs2: _*)
      q.processAllAvailable()
      // Update-mode sink appends one row per key per batch; the running
      // state is the last update per user.
      val got = spark.table("t_latest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4)))
        .zipWithIndex.groupBy(_._1._1)
        .map { case (_, rs) => rs.maxBy(_._2)._1 }.toSeq.sortBy(_._1)
      def us(hhmm: String) = t(hhmm).getTime * 1000L
      assert(got === Seq((1L, us("01:00"), 5L, "click", 9.0),
        (2L, us("00:20"), 7L, "buy", 4.0)))
      // And the stream state equals the batch twin over the same rows.
      val want = Streams.latestByKey((evs1 ++ evs2).toDF()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4))).toSeq.sortBy(_._1)
      assert(got === want)
    } finally q.stop()
  }

  test("mergeMaintainStream: foreachBatch MERGE maintenance equals the " +
    "batch fold after EVERY micro-batch") {
    import graft.functions.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def opOf(eid: Long): String =
      TextKernels.stringHash(UTF8String.fromString(s"cdc:$eid")) % 10 match {
        case 0          => "D"
        case 1 | 2      => "S"
        case _          => "A"
      }
    // Pin the derived op classes the scenario relies on.
    assert(Seq(1L, 2L, 3L, 4L, 5L, 9L, 10L).forall(opOf(_) == "A"))
    assert(Seq(7L, 8L, 12L).forall(opOf(_) == "S"))
    assert(Seq(6L, 11L).forall(opOf(_) == "D"))
    // u1: S then adds across batches; u2: add, DELETE, re-add (lro 'D');
    // u3: S then DELETE, stays absent; u4: add-only insert ('none');
    // u5: add + SET + add in ONE batch (in-batch reset discards the
    // earlier add).
    val b1 = Seq(Ev(7, t("00:10"), 1, "x", 10.00),
      Ev(1, t("00:20"), 1, "x", 2.50), Ev(3, t("00:15"), 2, "x", 5.00),
      Ev(8, t("00:05"), 3, "x", 3.00))
    val b2 = Seq(Ev(2, t("01:00"), 1, "x", 0.25),
      Ev(6, t("01:10"), 2, "x", 99.0), Ev(11, t("01:20"), 3, "x", 1.0),
      Ev(5, t("01:30"), 4, "x", 7.00))
    val b3 = Seq(Ev(4, t("02:00"), 2, "x", 1.00),
      Ev(9, t("02:10"), 5, "x", 1.00), Ev(12, t("02:20"), 5, "x", 2.00),
      Ev(10, t("02:30"), 5, "x", 0.50))
    val mem = MemoryStream[Ev]
    val m = new Streams.MergeMaintainer(spark)
    val q = Streams.maintain(mem.toDF(), m).start()
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    try {
      var seen = Seq.empty[Ev]
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        assert(snap(m.current) === snap(Streams.mergeApplyBatch(seen.toDF())))
      }
      assert(snap(m.current) === Seq((1L, 1275L, "S", 2L),
        (2L, 100L, "D", 1L), (4L, 700L, "none", 1L), (5L, 250L, "S", 1L)))
    } finally q.stop()
  }

  test("events_scd2_history: full version history with half-open " +
    "intervals on the T10 scenario") {
    import spark.implicits._
    val evs = Seq(
      Ev(7, t("00:10"), 1, "x", 10.00), Ev(1, t("00:20"), 1, "x", 2.50),
      Ev(3, t("00:15"), 2, "x", 5.00), Ev(8, t("00:05"), 3, "x", 3.00),
      Ev(2, t("01:00"), 1, "x", 0.25), Ev(6, t("01:10"), 2, "x", 99.0),
      Ev(11, t("01:20"), 3, "x", 1.0), Ev(5, t("01:30"), 4, "x", 7.00),
      Ev(4, t("02:00"), 2, "x", 1.00), Ev(9, t("02:10"), 5, "x", 1.00),
      Ev(12, t("02:20"), 5, "x", 2.00), Ev(10, t("02:30"), 5, "x", 0.50))
    def us(hhmm: String) = t(hhmm).getTime * 1000L
    val out = graft.queries.StreamQueries
      .scd2Of(evs.toDF().repartition(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getBoolean(6)))
    assert(out.toSeq === Seq(
      (1L, 1L, "S", Some(1000L), us("00:10"), Some(us("00:20")), false),
      (1L, 2L, "A", Some(1250L), us("00:20"), Some(us("01:00")), false),
      (1L, 3L, "A", Some(1275L), us("01:00"), None, true),
      (2L, 1L, "A", Some(500L), us("00:15"), Some(us("01:10")), false),
      (2L, 2L, "D", None, us("01:10"), Some(us("02:00")), false),
      (2L, 3L, "A", Some(100L), us("02:00"), None, true),
      (3L, 1L, "S", Some(300L), us("00:05"), Some(us("01:20")), false),
      (3L, 2L, "D", None, us("01:20"), None, true),
      (4L, 1L, "A", Some(700L), us("01:30"), None, true),
      (5L, 1L, "A", Some(100L), us("02:10"), Some(us("02:20")), false),
      (5L, 2L, "S", Some(200L), us("02:20"), Some(us("02:30")), false),
      (5L, 3L, "A", Some(250L), us("02:30"), None, true)))
  }

  test("scd2MaintainStream: foreachBatch history maintenance equals the " +
    "one-shot SCD2 fold after EVERY micro-batch") {
    import spark.implicits._
    val b1 = Seq(Ev(7, t("00:10"), 1, "x", 10.00),
      Ev(1, t("00:20"), 1, "x", 2.50), Ev(3, t("00:15"), 2, "x", 5.00),
      Ev(8, t("00:05"), 3, "x", 3.00))
    val b2 = Seq(Ev(2, t("01:00"), 1, "x", 0.25),
      Ev(6, t("01:10"), 2, "x", 99.0), Ev(11, t("01:20"), 3, "x", 1.0),
      Ev(5, t("01:30"), 4, "x", 7.00))
    val b3 = Seq(Ev(4, t("02:00"), 2, "x", 1.00),
      Ev(9, t("02:10"), 5, "x", 1.00), Ev(12, t("02:20"), 5, "x", 2.00),
      Ev(10, t("02:30"), 5, "x", 0.50))
    val mem = MemoryStream[Ev]
    val m = new Streams.Scd2Maintainer(spark)
    val q = Streams.maintain(mem.toDF(), m).start()
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getBoolean(6))).toSeq
    try {
      var seen = Seq.empty[Ev]
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        assert(snap(m.current) ===
          snap(graft.queries.StreamQueries.scd2Of(seen.toDF())))
      }
    } finally q.stop()
  }

  test("CDC maintainers: an at-least-once replay of an already-applied " +
    "batchId is skipped (idempotence guard)") {
    import spark.implicits._
    val b1 = Seq(Ev(7, t("00:10"), 1, "x", 10.00),
      Ev(1, t("00:20"), 1, "x", 2.50))
    val b2 = Seq(Ev(2, t("01:00"), 1, "x", 0.25))
    def mergeSnap(m: Streams.MergeMaintainer) = m.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    val m = new Streams.MergeMaintainer(spark)
    m.applyBatch(b1.toDF(), 0L)
    m.applyBatch(b2.toDF(), 1L)
    val once = mergeSnap(m)
    m.applyBatch(b2.toDF(), 1L) // replayed epoch: must be a no-op
    m.applyBatch(b1.toDF(), 0L) // stale epoch: must be a no-op
    assert(mergeSnap(m) === once)
    assert(once === Seq((1L, 1275L, "S", 2L))) // adds NOT double-applied
    def histSnap(m: Streams.Scd2Maintainer) = m.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val h = new Streams.Scd2Maintainer(spark)
    h.applyBatch(b1.toDF(), 0L)
    h.applyBatch(b2.toDF(), 1L)
    val honce = histSnap(h)
    h.applyBatch(b2.toDF(), 1L)
    assert(histSnap(h) === honce) // versions NOT duplicated
    assert(honce.map(_._2) === Seq(1L, 2L, 3L))
  }

  test("events_scd2_history head == stream_merge_upsert: the history's " +
    "is_current rows reproduce the merged table (fixture)") {
    val sf = "/root/testdata/sf0.001"
    val head = graft.queries.Registry.byKey("events_scd2_history")
      .fn(spark, sf).collect()
      .filter(r => r.getBoolean(6) && !r.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(3))).toSeq.sortBy(_._1)
    val merged = graft.queries.Registry.byKey("stream_merge_upsert")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(head === merged)
  }

  test("stream_cc_labels: CcMaintainer equals the one-shot fold after " +
    "every micro-batch; batch order commutes") {
    import spark.implicits._
    // Components merge ACROSS batches: {1,2} and {3,4} appear first,
    // the 2-3 bridge lands later; 7-8 stays its own component; 9-10
    // arrives last touching nothing.
    val b1 = Seq((1L, 2L), (3L, 4L))
    val b2 = Seq((2L, 3L), (7L, 8L))
    val b3 = Seq((9L, 10L), (4L, 5L))
    def oneShot(edges: Seq[(Long, Long)]) = {
      val (st, ok) = Streams.ccFold(Streams.ccEmptyState(spark),
        edges.toDF("u", "v"))
      assert(ok)
      st.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    }
    val mem = MemoryStream[(Long, Long)]
    val m = new Streams.CcMaintainer(spark)
    val q = Streams.maintain(
      mem.toDF().toDF("u", "v"), m).start()
    try {
      var seen = Seq.empty[(Long, Long)]
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        assert(m.converged)
        assert(m.current.collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq === oneShot(seen))
      }
      assert(m.current.collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq === Seq(
        (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
        (7L, 7L), (8L, 7L), (9L, 9L), (10L, 9L)))
    } finally q.stop()
    // Edge batches commute: a permuted replay lands on the same labels.
    val perm = new Streams.CcMaintainer(spark)
    for (b <- Seq(b3, b1, b2)) perm.applyBatch(b.toDF("u", "v"))
    assert(perm.converged)
    assert(perm.current.collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === oneShot(b1 ++ b2 ++ b3))
  }

  test("stream_dedup_minhash: LshDedupMaintainer equals the batch twin " +
    "after every micro-batch; replays are skipped") {
    import spark.implicits._
    import graft.queries.DedupQueries
    // Texts engineered around the fold's cases: an exact-dup cluster
    // split ACROSS batches (1≡4≡7), a prefix chain A⊂B⊂C where
    // j(A,B)/j(B,C) ≥ τ but j(A,C) < τ (B drops via A, C must come BACK
    // to kept — the closure round-2 / ADVICE chain case, ids 2/5/8), a
    // cross-batch near-dup of a KEPT doc (9 vs 3), and a short
    // shingle-less doc (6).
    val words = (1 to 30).map(i => s"w$i")
    val tA = words.mkString(" ")
    val tB = (words ++ (31 to 52).map(i => s"w$i")).mkString(" ")
    val tC = (words ++ (31 to 90).map(i => s"w$i")).mkString(" ")
    val t3 = (1 to 25).map(i => s"z$i").mkString(" ")
    val t9 = ((1 to 25).map(i => s"z$i") ++ Seq("tail")).mkString(" ")
    val b1 = Seq((1L, tA), (2L, tA), (3L, t3))
    val b2 = Seq((4L, tA), (5L, tB), (6L, "too short"))
    val b3 = Seq((7L, tA), (8L, tC), (9L, t9))
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .toSeq
    def twin(docs: Seq[(Long, String)]) = {
      val d = docs.toDF("doc_id", "text")
      snap(DedupQueries.streamDedupMinhashOf(spark, d,
        DedupQueries.shingleSetsOf(d)))
    }
    val mem = MemoryStream[(Long, String)]
    val m = new Streams.LshDedupMaintainer(spark)
    val q = Streams.maintain(
      mem.toDF().toDF("doc_id", "text"), m).start()
    try {
      var seen = Seq.empty[(Long, String)]
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        assert(snap(m.current) === twin(seen))
      }
      val fin = snap(m.current)
      // exact-dup cluster: 1 kept, 2 (same text, same batch), 4 and 7
      // (later batches) all dropped onto 1
      assert(fin.filter(v => Seq(2L, 4L, 7L).contains(v._1))
        .forall(v => !v._2 && v._3 == 1L))
      // chain: 5 (=B) dropped onto 2's rep 1? no — B pairs with A-texts
      // via prefix overlap only if j >= tau; pin the closure INVARIANTS
      // instead of hand jaccards: every dropped doc's dup_of is a KEPT
      // smaller doc, and kept docs never point anywhere
      val keptSet = fin.filter(_._2).map(_._1).toSet
      assert(fin.forall(v => v._2 == (v._3 == -1L)))
      assert(fin.filter(!_._2).forall(v =>
        keptSet.contains(v._3) && v._3 < v._1))
      assert(fin.forall(_._4), "every batch fold must converge")
      // the shingle-less doc is kept
      assert(fin.find(_._1 == 6L).exists(_._2))
      // state holds exactly the kept shingled docs
      assert(m.keptState.count() ===
        fin.count(v => v._2 && v._1 != 6L))
      // cross-batch near-dup: 9 dropped onto the kept 3
      assert(fin.find(_._1 == 9L).exists(v => !v._2 && v._3 == 3L))
    } finally q.stop()
    // At-least-once replay of an applied epoch is a no-op (guard set
    // AFTER the fold materializes — the ADVICE r12 ordering).
    val r = new Streams.LshDedupMaintainer(spark)
    r.applyBatch(b1.toDF("doc_id", "text"), batchId = 0L)
    val once = snap(r.current)
    r.applyBatch(b1.toDF("doc_id", "text"), batchId = 0L)
    assert(snap(r.current) === once)
    assert(once === twin(b1))
  }

  test("stream_ivf_balance: IvfMaintainer counts and balance equal the " +
    "one-shot audit after every micro-batch; replays are skipped; the " +
    "append hook sees every batch exactly once") {
    import spark.implicits._
    import graft.queries.SimQueries
    // (vec_id, embedding, label) with a skewed label mix so the
    // balance columns are non-degenerate
    val vecs = (1L to 40L).map(i =>
      (i, Array(i.toFloat, 1.0f), (i * i % 5).toInt))
    def snapB(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    def oneShot(prefix: Seq[(Long, Array[Float], Int)]) = snapB(
      SimQueries.embIvfBalanceOf(prefix
        .toDF("vec_id", "embedding", "label")
        .withColumn("label",
          org.apache.spark.sql.functions.col("label").cast("long"))))
    var appended = Seq.empty[Long]
    val m = new Streams.IvfMaintainer(spark,
      appendList = b => appended ++= b.collect().map(_.getLong(0)))
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = Streams.maintain(
      mem.toDF().toDF("vec_id", "embedding", "label"), m).start()
    try {
      var seen = Seq.empty[(Long, Array[Float], Int)]
      for (b <- vecs.grouped(13)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        assert(snapB(m.balance) === oneShot(seen))
        assert(m.current.collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq ===
          seen.groupBy(v => v._3.toLong).view
            .mapValues(_.length.toLong).toSeq.sorted)
      }
      // every vector hit the label-partitioned append hook exactly once
      assert(appended.sorted === vecs.map(_._1))
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op
    val r = new Streams.IvfMaintainer(spark)
    val b1 = vecs.take(7).toDF("vec_id", "embedding", "label")
    r.applyBatch(b1, batchId = 0L)
    val once = snapB(r.balance)
    r.applyBatch(b1, batchId = 0L)
    assert(snapB(r.balance) === once)
    assert(once === oneShot(vecs.take(7)))
  }

  test("stream_dedup_minhash: the id-monotonicity contract is loud — " +
    "an out-of-order or reused doc_id fails the batch, and a failed " +
    "batch leaves state untouched") {
    import spark.implicits._
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.getLong(0)).toSeq
    val t = (1 to 20).map(i => s"m$i").mkString(" ")
    val m = new Streams.LshDedupMaintainer(spark)
    m.applyBatch(Seq((5L, t), (6L, t + " x")).toDF("doc_id", "text"))
    val before = snap(m.current)
    // reused id (== max seen)
    val e1 = intercept[IllegalArgumentException] {
      m.applyBatch(Seq((6L, t)).toDF("doc_id", "text"))
    }
    assert(e1.getMessage.contains("id-monotonicity"))
    // out-of-order id (< max seen)
    intercept[IllegalArgumentException] {
      m.applyBatch(Seq((3L, t), (9L, t)).toDF("doc_id", "text"))
    }
    // the guard fires BEFORE any state advance: verdicts unchanged,
    // and a valid next batch still applies cleanly
    assert(snap(m.current) === before)
    m.applyBatch(Seq((7L, t)).toDF("doc_id", "text"))
    assert(snap(m.current) === (before :+ 7L))
    // empty batches are fine and don't advance the bound
    m.applyBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    m.applyBatch(Seq((8L, "tiny")).toDF("doc_id", "text"))
    assert(snap(m.current) === (before ++ Seq(7L, 8L)))
  }

  test("stream_dedup_minhash: maintainer == batch twin under RANDOM " +
    "batch widths on seeded random corpora") {
    import spark.implicits._
    import graft.queries.DedupQueries
    import scala.util.Random
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    for (seed <- Seq(11L, 77L)) {
      val rnd = new Random(seed)
      // corpus: base texts + exact copies + prefix-extended near-dups +
      // occasional short shingle-less docs, ids in arrival order
      val bases = (0 until 6).map(i =>
        (0 until 12 + rnd.nextInt(20)).map(j => s"s${seed}b${i}w$j")
          .mkString(" "))
      val docs = (1L to 40L).map { id =>
        val b = bases(rnd.nextInt(bases.length))
        val t = rnd.nextInt(4) match {
          case 0 => b                                  // exact copy
          case 1 => b + " " + (0 until rnd.nextInt(18))
            .map(j => s"x${id}w$j").mkString(" ")      // extended near-dup
          case 2 => "tiny doc"                         // shingle-less
          case _ => (0 until 15).map(j => s"u${id}w$j").mkString(" ")
        }
        (id, t)
      }
      def twin(ds: Seq[(Long, String)]) = {
        val d = ds.toDF("doc_id", "text")
        snap(DedupQueries.streamDedupMinhashOf(spark, d,
          DedupQueries.shingleSetsOf(d)))
      }
      val m = new Streams.LshDedupMaintainer(spark)
      var seen = Seq.empty[(Long, String)]
      var i = 0
      while (i < docs.length) {
        val w = 1 + rnd.nextInt(9)
        val batch = docs.slice(i, i + w)
        i += w
        m.applyBatch(batch.toDF("doc_id", "text"))
        seen ++= batch
        assert(snap(m.current) === twin(seen), s"seed $seed prefix $i")
      }
    }
  }

  test("stream_distinct_hll: HllMaintainer registers and estimate equal " +
    "the one-shot over every prefix; replays are skipped; re-observed " +
    "users are register no-ops") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // (event_id, user_id, event_type): two types over a shared-but-offset
    // user population so the register sets differ per type
    val evs = (1L to 120L).map(i =>
      (i, if (i % 2 == 0) i % 37 else i % 23 + 100,
        if (i % 2 == 0) "a" else "b"))
    def snapR(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def snapE(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    def oneShot(prefix: Seq[(Long, Long, String)]) = {
      val d = prefix.toDF("event_id", "user_id", "event_type")
      (snapR(StreamQueries.hllRegistersOf(d)),
        snapE(StreamQueries.hllEstimateFromRegisters(
          StreamQueries.hllRegistersOf(d))))
    }
    val m = new Streams.HllMaintainer(spark)
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "user_id", "event_type"), m).start()
    try {
      var seen = Seq.empty[(Long, Long, String)]
      for (b <- evs.grouped(35)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val (regs, est) = oneShot(seen)
        assert(snapR(m.current) === regs)
        assert(snapE(m.estimate) === est)
      }
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op (batchId guard)
    val r = new Streams.HllMaintainer(spark)
    val b1 = evs.take(40).toDF("event_id", "user_id", "event_type")
    r.applyBatch(b1, batchId = 0L)
    val once = snapR(r.current)
    r.applyBatch(b1, batchId = 0L)
    assert(snapR(r.current) === once)
    // register idempotence: the SAME users under a NEW batch id change
    // nothing either (max is idempotent — stronger than the count-merge
    // maintainers, where only the guard protects replays)
    r.applyBatch(b1, batchId = 1L)
    assert(snapR(r.current) === once)
    assert(once === oneShot(evs.take(40))._1)
    // a genuinely new user does advance a register set (user 999999
    // lands in bucket 25 with rho 1, a bucket the take(40) "a" users
    // leave at 0 — precomputed against the shared hash)
    r.applyBatch(Seq((999L, 999999L, "a")).toDF(
      "event_id", "user_id", "event_type"), batchId = 2L)
    assert(snapR(r.current) !== once)
  }

  test("stream_value_quantiles: ValueHistMaintainer histogram and " +
    "quantiles equal the one-shot over every prefix; replays are " +
    "skipped") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // values engineered for grid collisions (duplicated cents) and
    // rank-boundary picks across two types of different sizes
    val evs = (1L to 90L).map(i =>
      (i, (i * 37 % 41).toDouble + (i % 3) * 0.004,
        if (i % 4 == 0) "a" else "b"))
    def snapH(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def snapQ(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    def oneShot(prefix: Seq[(Long, Double, String)]) = {
      val d = prefix.toDF("event_id", "value", "event_type")
      (snapH(StreamQueries.valueHistOf(d)),
        snapQ(StreamQueries.quantilesFromHist(StreamQueries.valueHistOf(d))))
    }
    val m = new Streams.ValueHistMaintainer(spark)
    val mem = MemoryStream[(Long, Double, String)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "value", "event_type"), m).start()
    try {
      var seen = Seq.empty[(Long, Double, String)]
      for (b <- evs.grouped(28)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val (h, qq) = oneShot(seen)
        assert(snapH(m.current) === h)
        assert(snapQ(m.quantiles) === qq)
      }
      // nearest-rank sanity against an independent in-memory sort
      val byType = seen.groupBy(_._3)
      for ((t, rows) <- byType) {
        val cents = rows.map(r => math.floor(r._2 * 100 + 0.5).toLong)
          .sorted
        val n = cents.size
        val expect = Seq(50L -> ((n + 1) / 2), 90L -> ((9 * n + 9) / 10),
          99L -> ((99 * n + 99) / 100))
          .map { case (p, rank) => (t, p, rank.toLong, n.toLong,
            cents(rank.toInt - 1)) }
        assert(snapQ(m.quantiles).filter(_._1 == t) === expect)
      }
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op
    val r = new Streams.ValueHistMaintainer(spark)
    val b1 = evs.take(30).toDF("event_id", "value", "event_type")
    r.applyBatch(b1, batchId = 0L)
    val once = snapH(r.current)
    r.applyBatch(b1, batchId = 0L)
    assert(snapH(r.current) === once)
    assert(once === oneShot(evs.take(30))._1)
  }

  test("stream_heavy_hitters: CmsMaintainer verdict equals the one-shot " +
    "after every micro-batch (grid merges cell-wise); replays are " +
    "skipped") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // a skewed user population (Zipf-ish: low ids repeat often) so the
    // top-K order has real ties broken by user_id, plus enough distinct
    // users that the CMS grid carries genuine collisions to bound
    val evs = (1L to 200L).map(i => (i, i * i % 61))
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    def oneShot(prefix: Seq[(Long, Long)]) = snapV(
      StreamQueries.eventsHeavyHittersOf(spark,
        prefix.toDF("event_id", "user_id")))
    val m = new Streams.CmsMaintainer(spark)
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "user_id"), m).start()
    try {
      var seen = Seq.empty[(Long, Long)]
      for (b <- evs.grouped(45)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val v = oneShot(seen)
        assert(snapV(m.verdict) === v)
        // the structural contract holds on the maintained state too
        assert(v.forall(_._4), "count-min underestimated a count")
      }
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op — counts and
    // grid cells are NOT idempotent, so the batchId guard is the
    // correctness line here (unlike the HLL max-merge)
    val r = new Streams.CmsMaintainer(spark)
    val b1 = evs.take(60).toDF("event_id", "user_id")
    r.applyBatch(b1, batchId = 0L)
    val once = snapV(r.verdict)
    r.applyBatch(b1, batchId = 0L)
    assert(snapV(r.verdict) === once)
    assert(once === oneShot(evs.take(60)))
    // a NEW batch id with the same rows genuinely double-counts —
    // proving the equality above is the guard's doing, not idempotence
    r.applyBatch(b1, batchId = 1L)
    assert(snapV(r.verdict).map(_._2) === once.map(_._2 * 2))
  }

  test("stream_bitmap_distinct: BitmapMaintainer verdict equals the " +
    "one-shot after every micro-batch; replay WITHOUT a batchId guard " +
    "is a no-op because OR is idempotent") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // ids crossing several 62-wide buckets, with cross-batch repeats so
    // idempotence is genuinely exercised (same bit OR'd again)
    val evs = (1L to 180L).map(i =>
      (i, (i * i) % 150, if (i % 3 == 0) "view" else "click"))
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    def frame(rows: Seq[(Long, Long, String)]) =
      rows.toDF("event_id", "user_id", "event_type")
    def oneShot(prefix: Seq[(Long, Long, String)]) = snapV(
      StreamQueries.eventsBitmapDistinctOf(frame(prefix)))
    val m = new Streams.BitmapMaintainer(spark)
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "user_id", "event_type"), m).start()
    try {
      var seen = Seq.empty[(Long, Long, String)]
      for (b <- evs.grouped(40)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val v = oneShot(seen)
        assert(snapV(m.verdict(frame(seen))) === v)
        assert(v.forall(_._4), "bitmap diverged from count(DISTINCT)")
      }
    } finally q.stop()
    // the idempotence claim, proven the hard way: apply the SAME batch
    // twice with DIFFERENT batch ids (so no guard could be saving us) —
    // bucket words absorb the replay, unlike every counter maintainer
    val r = new Streams.BitmapMaintainer(spark)
    val b1 = frame(evs.take(70))
    r.applyBatch(b1, batchId = 0L)
    val once = rows(r.current)
    r.applyBatch(b1, batchId = 1L)
    assert(rows(r.current) === once)
    assert(snapV(r.verdict(b1)) === oneShot(evs.take(70)))
  }

  test("stream_type_overlap: TypeOverlapMaintainer verdict equals the " +
    "one-shot after every micro-batch; replay WITHOUT a guard is " +
    "absorbed (HLL union and distinct union are idempotent)") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // three event types with genuinely overlapping audiences, users
    // repeating across batches so both idempotent merges are exercised
    val evs = (1L to 150L).map(i =>
      (i, (i * 7) % 40, Seq("view", "click", "buy")((i % 3).toInt)))
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSeq
    def frame(rows: Seq[(Long, Long, String)]) =
      rows.toDF("event_id", "user_id", "event_type")
    def oneShot(prefix: Seq[(Long, Long, String)]) = snapV(
      StreamQueries.eventsTypeOverlapOf(spark, frame(prefix)))
    val m = new Streams.TypeOverlapMaintainer(spark)
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "user_id", "event_type"), m).start()
    try {
      var seen = Seq.empty[(Long, Long, String)]
      for (b <- evs.grouped(40)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val v = oneShot(seen)
        assert(snapV(m.verdict) === v)
        // the inclusion-exclusion band must hold on the maintained blobs
        assert(v.forall(_.last == true), "HLL overlap left its band")
      }
    } finally q.stop()
    // no-guard replay: same batch, DIFFERENT batch ids — both merges
    // are idempotent, so the state absorbs the replay by algebra
    val r = new Streams.TypeOverlapMaintainer(spark)
    val b1 = frame(evs.take(60))
    r.applyBatch(b1, batchId = 0L)
    val once = snapV(r.verdict)
    r.applyBatch(b1, batchId = 1L)
    assert(snapV(r.verdict) === once)
    assert(once === oneShot(evs.take(60)))
  }

  test("stream_heavy_hitters_bounded: MgMaintainer hand fold — pruning " +
    "fires, the ledger tracks every subtraction, and a dropped key " +
    "revives when it comes back heavy") {
    import spark.implicits._
    def batch(rows: Seq[Long]) =
      rows.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("event_id", "user_id")
    val m = new Streams.MgMaintainer(spark, 3)
    // batch 1: {1:5, 2:2, 3:2, 4:1} → d=1 → {1:4, 2:1, 3:1}, dec=1
    m.applyBatch(batch(Seq(1, 1, 1, 1, 1, 2, 2, 3, 3, 4)))
    assert(m.snapshot === (Map(1L -> 4L, 2L -> 1L, 3L -> 1L), 1L, 10L))
    // batch 2: {5:3, 6:3, 2:1} (≤ k, batch d=0); merge has 5 keys →
    // values [4,3,3,2,1], d=2 → {1:2, 5:1, 6:1}, dec=3
    m.applyBatch(batch(Seq(5, 5, 5, 6, 6, 6, 2)))
    assert(m.snapshot === (Map(1L -> 2L, 5L -> 1L, 6L -> 1L), 3L, 17L))
    // batch 3: key 2 returns heavy {2:6, 7:1}; merge values [6,2,1,1,1],
    // d=1 → {2:5, 1:1} — the dropped key REVIVES, 6 beats everything
    m.applyBatch(batch(Seq(2, 2, 2, 2, 2, 2, 7)))
    assert(m.snapshot === (Map(2L -> 5L, 1L -> 1L), 4L, 24L))
    // ledger contracts against the full exact counts
    // (1:5, 2:9, 3:2, 4:1, 5:3, 6:3, 7:1)
    val exact = Map(1L -> 5L, 2L -> 9L, 3L -> 2L, 4L -> 1L, 5L -> 3L,
      6L -> 3L, 7L -> 1L)
    val (sm, dec, tot) = m.snapshot
    for ((u, c) <- exact) {
      val est = sm.getOrElse(u, 0L)
      assert(est <= c, s"overestimate for $u")
      assert(c - est <= dec, s"ledger bound broken for $u")
    }
    assert(dec * 4 <= tot)
  }

  test("stream_heavy_hitters_bounded: streaming fold equals the direct " +
    "applyBatch fold after every micro-batch, ledger contracts hold at " +
    "every step; replays are skipped, a new batch id double-counts") {
    import spark.implicits._
    import graft.queries.StreamQueries
    // Zipf-ish skew (low ids heavy) so MG keeps the genuinely heavy keys
    val evs = (1L to 240L).map(i => (i, i % (1 + (i * 7) % 23)))
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSeq
    val k = 6
    val m = new Streams.MgMaintainer(spark, k)
    val direct = new Streams.MgMaintainer(spark, k)
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.maintain(
      mem.toDF().toDF("event_id", "user_id"), m).start()
    try {
      var seen = Seq.empty[(Long, Long)]
      for (b <- evs.grouped(50)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        direct.applyBatch(b.toDF("event_id", "user_id"))
        // state equality: identical batch boundaries ⇒ identical summary
        assert(m.snapshot === direct.snapshot)
        // ledger contracts vs the exact prefix counts, EVERY step
        val exact = seen.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val (sm, dec, tot) = m.snapshot
        assert(sm.size <= k)
        assert(tot === seen.size.toLong)
        assert(dec * (k + 1) <= tot)
        for ((u, est) <- sm) assert(est <= exact(u))
        for ((u, c) <- exact)
          assert(c - sm.getOrElse(u, 0L) <= dec, s"bound broken for $u")
        // the verdict view mirrors the snapshot through mgVerdictOf
        val users = seen.toDF("event_id", "user_id").select("user_id")
        assert(snapV(m.verdict(users)) ===
          snapV(StreamQueries.mgVerdictOf(spark, sm, dec, tot, k, users)))
      }
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op — counters are
    // NOT idempotent, the batchId guard is the correctness line
    val r = new Streams.MgMaintainer(spark, k)
    val b1 = evs.take(60).toDF("event_id", "user_id")
    r.applyBatch(b1, batchId = 0L)
    val once = r.snapshot
    r.applyBatch(b1, batchId = 0L)
    assert(r.snapshot === once)
    // a NEW batch id with the same rows genuinely mutates the summary
    r.applyBatch(b1, batchId = 1L)
    assert(r.snapshot !== once)
    assert(r.snapshot._3 === 2 * once._3)
  }

  test("stream_k_anonymity: KAnonymityMaintainer classes and verdict " +
    "equal the one-shot after every micro-batch; a fresh QI cell DROPS " +
    "k to 1; replays are skipped") {
    import spark.implicits._
    import graft.queries.FeatureQueries
    // batches over two QI cells, then a batch touching a FRESH cell
    val rows = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) 1 else 2, (i % 4) * 1000.0 + 500.0,
        if (i % 3 == 0) "AUTO" else "BLDG"))
    def snapC(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).mkString("|"))).toSeq.sorted
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def cust(p: Seq[(Long, Int, Double, String)]) =
      p.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    def oneShot(p: Seq[(Long, Int, Double, String)]) =
      (snapC(FeatureQueries.privacyClassesOf(cust(p))),
        snapV(FeatureQueries.privacyKAnonymityOf(cust(p))))
    val m = new Streams.KAnonymityMaintainer(spark)
    val mem = MemoryStream[(Long, Int, Double, String)]
    val q = Streams.maintain(mem.toDF()
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"), m)
      .start()
    try {
      var seen = Seq.empty[(Long, Int, Double, String)]
      for (b <- rows.grouped(14)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val (c, v) = oneShot(seen)
        assert(snapC(m.current) === c)
        assert(snapV(m.verdict) === v)
      }
      val kBefore = m.verdict.collect()(0).getLong(4)
      assert(kBefore > 1L)
      // a single row in a FRESH QI cell (nation 9) drops k to 1
      mem.addData((999L, 9, 9500.0, "AUTO"))
      q.processAllAvailable()
      assert(m.verdict.collect()(0).getLong(4) === 1L)
      assert(snapV(m.verdict) ===
        oneShot(seen :+ (999L, 9, 9500.0, "AUTO"))._2)
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op
    val r = new Streams.KAnonymityMaintainer(spark)
    val b1 = cust(rows.take(20))
    r.applyBatch(b1, batchId = 0L)
    val once = snapC(r.current)
    r.applyBatch(b1, batchId = 0L)
    assert(snapC(r.current) === once)
    assert(once === oneShot(rows.take(20))._1)
  }

  test("file-source stream drives the HLL maintainer to the batch-twin " +
    "registers (real readStream path, not MemoryStream)") {
    // The MemoryStream proofs pin the state algebra; this pins the
    // actual readStream file-source path the production wiring uses —
    // same schema-adaptive normalization as the batch read, maintainer
    // fed through the SAME foreachBatch wire as the prod helper.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sfDir = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_hll_src")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamed = graft.sources.Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
    val m = new Streams.HllMaintainer(spark)
    val q = Streams.maintain(streamed, m).start()
    try {
      q.processAllAvailable()
      val got = m.current.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val want = graft.queries.StreamQueries.hllRegistersOf(
        graft.sources.Tables(spark, sfDir, "events")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got.nonEmpty && got === want)
    } finally q.stop()
  }

  test("sketch maintainers == one-shot under RANDOM batch widths on " +
    "seeded random streams (the LSH-maintainer property, applied to " +
    "the X176/X178 state algebras)") {
    import spark.implicits._
    import graft.queries.StreamQueries
    import scala.util.Random
    for (seed <- Seq(19L, 83L)) {
      val rnd = new Random(seed)
      val evs = (1L to 150L).map(i =>
        (i, rnd.nextInt(400).toLong,
          rnd.nextInt(1000).toDouble / 7.0,
          s"t${rnd.nextInt(4)}"))
      val hm = new Streams.HllMaintainer(spark)
      val vm = new Streams.ValueHistMaintainer(spark)
      var seen = Seq.empty[(Long, Long, Double, String)]
      var i = 0
      while (i < evs.length) {
        val w = 1 + rnd.nextInt(13)
        val batch = evs.slice(i, i + w)
        i += w
        val bdf = batch.toDF("event_id", "user_id", "value", "event_type")
        hm.applyBatch(bdf); vm.applyBatch(bdf)
        seen ++= batch
        val sdf = seen.toDF("event_id", "user_id", "value", "event_type")
        assert(hm.current.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
          StreamQueries.hllRegistersOf(sdf).collect().map(r =>
            (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
          s"seed $seed prefix $i registers")
        assert(vm.current.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
          StreamQueries.valueHistOf(sdf).collect().map(r =>
            (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
          s"seed $seed prefix $i histogram")
      }
    }
  }

  test("stream_t_closeness: TClosenessMaintainer cells and verdict " +
    "equal the one-shot after every micro-batch; one skewed batch " +
    "re-scores every class; replays are skipped") {
    import spark.implicits._
    import graft.queries.FeatureQueries
    val rows = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) 1 else 2, (i % 4) * 1000.0 + 500.0,
        if (i % 3 == 0) "AUTO" else "BLDG"))
    def snapC(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq.sorted
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    def cust(p: Seq[(Long, Int, Double, String)]) =
      p.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    def oneShot(p: Seq[(Long, Int, Double, String)]) =
      (snapC(FeatureQueries.privacyCellsOf(cust(p))),
        snapV(FeatureQueries.tClosenessOf(cust(p))))
    val m = new Streams.TClosenessMaintainer(spark)
    val mem = MemoryStream[(Long, Int, Double, String)]
    val q = Streams.maintain(mem.toDF()
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"), m)
      .start()
    try {
      var seen = Seq.empty[(Long, Int, Double, String)]
      for (b <- rows.grouped(14)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val (c, v) = oneShot(seen)
        assert(snapC(m.current) === c)
        assert(snapV(m.verdict) === v)
      }
      // a batch piling one segment into ONE class moves the GLOBAL
      // reference too, so classes the batch never touched re-score -
      // the reason the audit must be continuous
      val before = snapV(m.verdict)
      val skew = (100L to 112L).map(i => (i, 1, 500.0, "AUTO"))
      mem.addData(skew: _*)
      q.processAllAvailable()
      val after = snapV(m.verdict)
      assert(after === oneShot(seen ++ skew)._2)
      val untouched = (t: (Long, Long, Long, Long, Long)) =>
        !(t._1 == 1L && t._2 == 0L)
      assert(before.filter(untouched).map(t => (t._1, t._2)).toSet ===
        after.filter(untouched).map(t => (t._1, t._2)).toSet)
      assert(before.filter(untouched).map(_._4) !==
        after.filter(untouched).map(_._4),
        "global-shift must re-score untouched classes")
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op (counts are
    // NOT idempotent - the guard is the correctness line)
    val r = new Streams.TClosenessMaintainer(spark)
    val b1 = cust(rows.take(20))
    r.applyBatch(b1, batchId = 0L)
    val once = snapC(r.current)
    r.applyBatch(b1, batchId = 0L)
    assert(snapC(r.current) === once)
    assert(once === oneShot(rows.take(20))._1)
  }

  test("stream_cuped: CupedMaintainer state and verdict equal the " +
    "one-shot after every micro-batch under a fixed anchor; users span " +
    "batches; replays are skipped") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.queries.StreamQueries
    // 10 users x 6 events each (3 pre at seconds 1..59, 3 post at
    // 1000+), values correlated with the user id so theta is real.
    // Batching is by EVENT, so every user's (x, y) accumulates across
    // batches - the cross-batch sum-merge is what this test exercises.
    val anchorUs = 500L * 1000000L
    val evs = for (u <- 1L to 10L; k <- 0 to 5) yield {
      val pre = k < 3
      val sec = if (pre) u * 5 + k else 1000 + u * 5 + k
      (u * 100 + k, new Timestamp(sec * 1000L), u, "view",
        (if (pre) u * 1.0 else 2.0 * u) + k * 0.25)
    }
    def snapU(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def snapV(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map { r =>
        // early prefixes legitimately null the z/ratio columns (one
        // arm, or zero variance) - boxed-NaN placeholder keeps tuple
        // equality exact
        def d(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        (r.getLong(0), r.getLong(1), d(2), d(3), d(4), d(5), d(6), d(7))
      }.toSeq
    def mkDf(p: Seq[(Long, Timestamp, Long, String, Double)]) =
      p.toDF("event_id", "ts", "user_id", "event_type", "value")
    // stream_did rides the SAME maintainer state (round 17): its 8-col
    // 1-row readout snapshots with the same boxed-null discipline.
    def snapD(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map { r =>
        def d(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        (r.getLong(0), r.getLong(1), d(2), d(3), d(4), d(5), d(6), d(7))
      }.toSeq
    def oneShot(p: Seq[(Long, Timestamp, Long, String, Double)]) = {
      val u = StreamQueries.cupedUsersOf(mkDf(p), Some(anchorUs))
      (snapU(u), snapV(StreamQueries.cupedVerdictFromUsers(u)),
        snapD(StreamQueries.didVerdictFromUsers(u)))
    }
    val m = new Streams.CupedMaintainer(spark, anchorUs)
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = Streams.maintain(mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value"), m)
      .start()
    try {
      var seen = Seq.empty[(Long, Timestamp, Long, String, Double)]
      for (b <- evs.grouped(17)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        val (u, v, dd) = oneShot(seen)
        assert(snapU(m.current) === u)
        assert(snapV(m.verdict) === v)
        assert(snapD(m.didVerdict) === dd)
      }
    } finally q.stop()
    // at-least-once replay of an applied epoch is a no-op (sums are
    // NOT idempotent - the guard is the correctness line)
    val r = new Streams.CupedMaintainer(spark, anchorUs)
    val b1 = mkDf(evs.take(30))
    r.applyBatch(b1, batchId = 0L)
    val once = snapU(r.current)
    r.applyBatch(b1, batchId = 0L)
    assert(snapU(r.current) === once)
    assert(once === oneShot(evs.take(30))._1)
  }
  test("stream_asof: AsofMaintainer enrichment equals the one-shot " +
    "as-of after every time-ordered micro-batch; late clicks diverge " +
    "exactly as documented; replay guard is load-bearing for the " +
    "append, not the register") {
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, unix_micros}
    // 4 users; clicks C and purchases P interleaved. Times in seconds.
    // user 1: C@10(id 101), P@20(id 201), C@30(id 102), P@40(id 202)
    // user 2: P@15(id 203, no prior click), C@25(id 103), P@100(id 204)
    // user 3: C@50(id 104), C@50(id 105, same ts - higher id wins),
    //         P@50(id 205, same-ts inclusive match -> 105)
    // user 4: clicks only, never enriched
    val evs = Seq(
      (101L, 10L, 1L, "click"), (201L, 20L, 1L, "purchase"),
      (102L, 30L, 1L, "click"), (202L, 40L, 1L, "purchase"),
      (203L, 15L, 2L, "purchase"), (103L, 25L, 2L, "click"),
      (204L, 100L, 2L, "purchase"),
      (104L, 50L, 3L, "click"), (105L, 50L, 3L, "click"),
      (205L, 50L, 3L, "purchase"),
      (106L, 5L, 4L, "click"))
    // local hand model of the X24 left as-of join over a prefix
    def model(prefix: Seq[(Long, Long, Long, String)]) = prefix
      .filter(_._4 == "purchase").map { case (pid, pts, u, _) =>
        val cands = prefix.filter(e => e._4 == "click" && e._3 == u &&
          e._2 <= pts)
        if (cands.isEmpty) (pid, u, None: Option[Long], None: Option[Long])
        else {
          val c = cands.maxBy(e => (e._2, e._1))
          (pid, u, Some(c._1), Some((pts - c._2) * 1000000L))
        }
      }.sortBy(_._1)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSeq
    def mkDf(p: Seq[(Long, Long, Long, String)]) = p
      .map(e => (e._1, new Timestamp(e._2 * 1000L), e._3, e._4))
      .toDF("event_id", "ts", "user_id", "event_type")
    // time-ordered batches (the watermark contract the oracle fold uses)
    val ordered = evs.sortBy(e => (e._2, e._1))
    val m = new Streams.AsofMaintainer(spark)
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val q = Streams.maintain(mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type")), m).start()
    try {
      var seen = Seq.empty[(Long, Long, Long, String)]
      for (b <- ordered.grouped(3)) {
        mem.addData(b.map(e =>
          (e._1, new Timestamp(e._2 * 1000L), e._3, e._4)): _*)
        q.processAllAvailable()
        seen ++= b
        assert(snap(m.current) === model(seen))
      }
    } finally q.stop()
    // same-ts inclusive semantics really picked click 105 for P205
    assert(snap(m.current).find(_._1 == 205L).get._3 === Some(105L))

    // LATE CLICK: a click older than an already-enriched purchase must
    // NOT retroactively re-enrich it (immutable append), but must still
    // max-merge into the register only if newer than the current one.
    val m2 = new Streams.AsofMaintainer(spark)
    m2.applyBatch(mkDf(Seq((101L, 10L, 1L, "click"),
      (201L, 20L, 1L, "purchase")))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type")))
    val before = snap(m2.current)
    assert(before === Seq((201L, 1L, Some(101L), Some(10L * 1000000L))))
    // late click id 107 @15s: newer than register click 101@10s
    m2.applyBatch(mkDf(Seq((107L, 15L, 1L, "click")))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type")))
    assert(snap(m2.current) === before) // purchase NOT re-enriched...
    val reg = m2.latestClicks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(reg === Seq((1L, 15L * 1000000L, 107L))) // ...register moved
    // ...and the one-shot over all 3 events WOULD differ (the honest
    // divergence: batch as-of matches the late click)
    assert(model(Seq((101L, 10L, 1L, "click"), (201L, 20L, 1L, "purchase"),
      (107L, 15L, 1L, "click"))) ===
      Seq((201L, 1L, Some(107L), Some(5L * 1000000L))))

    // REPLAY GUARD asymmetry: guarded replay is a no-op; bypassing the
    // guard double-appends the output while the register (idempotent
    // max) is unchanged.
    val m3 = new Streams.AsofMaintainer(spark)
    val b0 = mkDf(evs.take(4))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
    m3.applyBatch(b0, batchId = 0L)
    val once = snap(m3.current)
    val regOnce = m3.latestClicks.collect().map(_.toSeq).toSeq
    m3.applyBatch(b0, batchId = 0L) // guarded: no-op
    assert(snap(m3.current) === once)
    m3.applyBatch(b0) // guard bypassed: the append doubles...
    assert(m3.current.count() === 2L * once.length)
    // ...but the register max-merge is idempotent
    assert(m3.latestClicks.collect().map(_.toSeq).toSeq === regOnce)
  }
  test("stream_butterflies: ButterflyMaintainer equals the capped " +
    "one-shot after every batch, retracts on cap crossing, and is " +
    "idempotent under replay (no guard by design)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // fanCap = 3. Edges arrive so that: pairs build ACROSS batches
    // (old-adjacency x new wedges), right 10 crosses the cap in batch
    // 3 (fan 2 -> 4) and must RETRACT its pair contribution.
    val batches = Seq(
      Seq((1L, 10L), (2L, 10L), (1L, 11L)),            // pair (1,2) w=1
      Seq((2L, 11L), (1L, 12L), (2L, 12L)),            // (1,2) w=3 -> bf 3
      Seq((3L, 10L), (4L, 10L)),                       // 10 crosses: w=2
      Seq((3L, 11L), (1L, 10L)))                       // dup edge + new wedge
    // local one-shot model with the final-fan cap
    def oneShot(pref: Seq[(Long, Long)]) = {
      val es = pref.distinct
      val fans = es.groupBy(_._2).view.mapValues(_.size).toMap
      val keep = es.filter { case (_, v) => fans(v) <= 3 }
      val pairs = keep.groupBy(_._2).values.flatMap { adj =>
        val us = adj.map(_._1).sorted
        for (i <- us.indices; j <- i + 1 until us.length)
          yield (us(i), us(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      (es.size.toLong, fans.size.toLong,
        fans.count(_._2 > 3).toLong,
        fans.values.filter(_ <= 3).map(f => f.toLong * (f - 1) / 2).sum,
        pairs.values.count(_ >= 2).toLong,
        pairs.values.map(w => w * (w - 1) / 2).sum)
    }
    def snap(m: Streams.ButterflyMaintainer) = {
      val r = m.verdict.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }
    val m = new Streams.ButterflyMaintainer(spark, 3L)
    var seen = Seq.empty[(Long, Long)]
    for (b <- batches) {
      m.applyBatch(b.toDF("u", "v").repartition(2))
      seen ++= b
      assert(snap(m) === oneShot(seen))
    }
    // the retraction really happened: right 10 (final fan 4) closes no
    // butterflies; only rights 11, 12 (fans 3 and 2) mediate pairs
    assert(snap(m)._3 === 1L) // one capped right
    // idempotence: replaying ANY batch is a no-op (every delta is
    // gated on the edge-set anti-join) - the documented no-guard class
    val before = snap(m)
    m.applyBatch(batches(2).toDF("u", "v"))
    m.applyBatch(batches(0).toDF("u", "v"))
    assert(snap(m) === before)
    // and the MemoryStream wiring drives the same maintainer
    val m2 = new Streams.ButterflyMaintainer(spark, 3L)
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.maintain(
      mem.toDF().toDF("u", "v"), m2).start()
    try {
      var sofar = Seq.empty[(Long, Long)]
      for (b <- batches) {
        mem.addData(b: _*)
        q.processAllAvailable()
        sofar ++= b
        assert(snap(m2) === oneShot(sofar))
      }
    } finally q.stop()
  }

  test("Maintainer base: a step that throws publishes nothing and does " +
    "not record its epoch; the retry applies the batch exactly once") {
    import spark.implicits._
    final class Flaky extends Streams.Maintainer[Long](0L) {
      var calls = 0
      protected def step(st: Long,
          batch: org.apache.spark.sql.DataFrame): Long = {
        calls += 1
        if (calls == 1) throw new IllegalStateException("pin failed")
        st + batch.count()
      }
      def value: Long = state
    }
    val m = new Flaky
    val b = Seq(1L, 2L, 3L).toDF("x")
    intercept[IllegalStateException](m.applyBatch(b, 0L))
    assert(m.value === 0L)
    m.applyBatch(b, 0L) // the failed epoch's retry is not a replay
    assert(m.value === 3L)
    m.applyBatch(b, 0L) // a true replay is skipped
    assert((m.value, m.calls) === ((3L, 2)))
  }

  test("Maintainer base: every maintainer takes the replay guard — a " +
    "replayed epoch runs no Spark job and the readout equals one " +
    "application of each batch") {
    import spark.implicits._
    type Df = org.apache.spark.sql.DataFrame
    val e1 = Seq((1L, 10L), (2L, 10L), (1L, 11L)).toDF("u", "v")
    val e2 = Seq((2L, 11L), (3L, 12L), (3L, 10L)).toDF("u", "v")
    val v1 = Seq((1L, 5L, "view"), (2L, 70L, "click"))
      .toDF("event_id", "user_id", "event_type")
    val v2 = Seq((3L, 5L, "click"), (4L, 9L, "view"))
      .toDF("event_id", "user_id", "event_type")
    // the formerly unguarded maintainers: (name, a fresh instance's
    // applyBatch and readout, batch 1, batch 2)
    val table: Seq[(String, () => ((Df, Long) => Unit, () => Df), Df,
        Df)] = Seq(
      ("cc", () => {
        val m = new Streams.CcMaintainer(spark)
        (m.applyBatch _, () => m.current)
      }, e1, e2),
      ("butterfly", () => {
        val m = new Streams.ButterflyMaintainer(spark, 2L)
        (m.applyBatch _, () => m.verdict)
      }, e1, e2),
      ("bitmap", () => {
        val m = new Streams.BitmapMaintainer(spark)
        (m.applyBatch _, () => m.current)
      }, v1, v2),
      ("type overlap", () => {
        val m = new Streams.TypeOverlapMaintainer(spark)
        (m.applyBatch _, () => m.verdict)
      }, v1, v2))
    def rows(df: Df) = df.collect().map(_.toSeq).toSeq
    val sc = spark.sparkContext
    for ((name, make, b1, b2) <- table) {
      val (applyOnce, readOnce) = make()
      applyOnce(b1, -1L); applyOnce(b2, -1L)
      val (apply, read) = make()
      apply(b1, 0L)
      sc.setJobGroup(s"replay-$name", name)
      try apply(b1, 0L) finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup(s"replay-$name").isEmpty,
        s"$name: the replayed epoch ran its step")
      apply(b2, 1L)
      assert(rows(read()) === rows(readOnce()), name)
    }
  }

  test("stream_heavy_hitters: a published CMS snapshot is never mutated " +
    "by a later batch") {
    import spark.implicits._
    val evs = (1L to 80L).map(i => (i, i * i % 13))
    val r = new Streams.CmsMaintainer(spark)
    r.applyBatch(evs.take(40).toDF("event_id", "user_id"), 0L)
    val old = r.snapshot
    def estimates(st: Streams.CmsState) =
      (0L until 13L).map(u => st.sketch.get.estimateCount(u))
    val before = estimates(old)
    r.applyBatch(evs.drop(40).toDF("event_id", "user_id"), 1L)
    assert(estimates(old) === before)
    assert(old.total === 40L && old.sketch.get.totalCount() === 40L)
    // the new snapshot's grid holds both batches
    val now = r.snapshot
    assert(now.total === 80L && now.sketch.get.totalCount() === 80L)
    assert(estimates(now).zip(before).forall { case (a, b) => a >= b })
  }
}
