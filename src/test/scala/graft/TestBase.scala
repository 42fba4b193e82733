package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for every spec (one JVM, `Test / fork`):
  * the mains' session contract ([[Harness.session]]) on 4 threads, whatever
  * `SPARK_GRAFT_CPUS` says, so specs that count tasks or partitions hold.
  */
object TestSpark {
  lazy val spark: SparkSession =
    Harness.session(4, Seq("spark.app.name" -> "graft-test"))
}

/** The reference's canonical 5-vertex JUnit fixture graph
  * ([GH] src/test/java/flink/graphs/TestGraphUtils.java — provenance caveat
  * in SURVEY §0; reproduced in FIXTURES.md §2): vertices 1..5 with value =
  * id, seven weighted edges with value = 10·src + dst, one 1→…→5→1 cycle.
  */
object Fixture {
  val vertexRows: Seq[(Long, Long)] =
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L))
  val edgeRows: Seq[(Long, Long, Long)] =
    Seq((1L, 2L, 12L), (1L, 3L, 13L), (2L, 3L, 23L), (3L, 4L, 34L),
      (3L, 5L, 35L), (4L, 5L, 45L), (5L, 1L, 51L))

  def graph(s: SparkSession): Graph = {
    import s.implicits._
    Graph(vertexRows.toDF("id", "value"), edgeRows.toDF("src", "dst", "value"))
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def fixture: Graph = Fixture.graph(spark)

  /** Collect to a sorted Seq of plain tuples for order-insensitive golden
    * comparison (goldens are multisets — sort both sides).
    */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted

  /** `body`'s result and the Spark jobs it ran, under job group `g`. */
  def jobsOf[T](g: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    val out = try body finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(g).length)
  }

  def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
}
