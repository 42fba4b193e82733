package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated key filter] — the filter is
    // for targeted scale checks (a full sf1 dump is ~10 min; one key is
    // seconds). The driver invokes with two args (full dump).
    val sfDir = args(0); val outDir = args(1)
    val (keyFilter, unknown) = Harness.keyFilter(args.lift(2))
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown key(s) in filter: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Collect per-key failures so a broken key can never masquerade as
    // silent absence in the driver's correctness artifact (the round-6
    // lesson: 25 keys threw at plan time and simply vanished from the
    // comparison). Dumped as _failed.json next to oracle_sql.json.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => keyFilter.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try graft.util.JobTags.within(spark.sparkContext,
          graft.util.JobTags.Key, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} key(s) FAILED: " +
        failed.keys.mkString(", "))
    Caches.evict(spark) // release memoized graphs/frames before teardown
    spark.stop()
  }
}
