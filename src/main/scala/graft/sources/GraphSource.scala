package graft.sources

import org.apache.spark.sql.SparkSession

/** A graph built once per (session, sfDir) from a dataset's tables. */
trait GraphSource {
  def apply(s: SparkSession, dir: String): graft.Graph
}
