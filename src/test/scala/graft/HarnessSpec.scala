package graft

/** The one session factory and the one listener of the mains
  * ([[Harness]], [[JobLog]]).
  */
class HarnessSpec extends GraftSuite {

  test("the test session is the harness session on 4 threads") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("JobLog counts the tasks of a 3-task job and their executor CPU") {
    val log = JobLog.on(spark)
    try {
      spark.sparkContext.parallelize(1 to 3, 3)
        .map(i => (1 to 200000).foldLeft(0L)(_ + _ * i)).count()
      val jobs = log.jobTable()
      assert(jobs.map(_.tasks) === Seq(3))
      assert(jobs.forall(_.site.startsWith("count at HarnessSpec.scala")))
      assert(jobs.forall(j => j.t1 >= j.t0 && j.t0 > 0L))
      assert(log.cpuSeconds() > 0.0)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("keyFilter returns the keys no query has") {
    val (keys, unknown) = Harness.keyFilter(Some("out_degrees,no_such_key"))
    assert(keys === Some(Set("out_degrees", "no_such_key")))
    assert(unknown === Set("no_such_key"))
    assert(Harness.keyFilter(None) === ((None, Set.empty[String])))
  }
}
