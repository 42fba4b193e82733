package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

/** Column-level vector primitives over `array<float>` embedding columns.
  * Dot products are sequential left folds over exactly-widened floats
  * (float→double is lossless), so results are bit-identical to the DuckDB
  * `list_reduce` twin — no UDFs, no MLlib dependency.
  */
object VectorFns {
  /** Σ aᵢ·bᵢ in double precision (left fold, deterministic order) — the
    * codegen'd [[ArrayDot]] Catalyst expression.
    */
  def dot(a: Column, b: Column): Column =
    SqlBridge.column(ArrayDot(
      SqlBridge.expression(a), SqlBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** DuckDB twin of [[dot]]. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin.replace("\n", " ")

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** DuckDB twin of [[cosine]]. */
  def cosineSql(a: String, b: String, normA: String, normB: String): String =
    s"${dotSql(a, b)} / ($normA * $normB)"
}
