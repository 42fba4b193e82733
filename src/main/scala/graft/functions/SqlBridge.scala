// A deliberate package escape hatch (cf. SNIPPETS.md [2], the pattern
// Spark's own `package object sql` uses): `ExpressionUtils.column` — the
// only public-API-free way to wrap a custom Catalyst Expression into a
// Column in Spark 4 — is `private[sql]`, so this one-object bridge lives in
// a subpackage of org.apache.spark.sql. It also holds what else needs the
// internals: the pin (plans, RDDs and bound expressions) and the footer
// schema read (the session's SQL and Hadoop confs). Nothing else in the
// engine leaves the graft namespace.
package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences,
  BoundReference, Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Statistics}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

object SqlBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression from a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Spark schema of the parquet `file`, read from its footer on
    * the driver, with no job: the schema Spark stored in the footer's
    * row metadata when present, else the parquet schema converted under
    * the session's read settings, both as Spark's own inference does
    * (`ParquetFileFormat.readSchemaFromFooter`), so a type the session
    * refuses fails with Spark's message. The session's SQL conf and
    * Hadoop conf are the reason this lives in the bridge.
    */
  def parquetSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** The engine's one lineage cut: [[pinnedSum]] without a probe. */
  def pinned(df: DataFrame): DataFrame = pinnedSum(df, lit(0L))._1

  /** Materializes `df` behind a lineage cut and measures it in the same
    * job: returns the pinned frame, its row count and the sum of the
    * integer `probe` over its rows (nulls skipped, 0 when empty), e.g.
    * `lit(1L)` for the row count alone or a loop's convergence probe.
    *
    * The cut stores each partition as pages: byte arrays holding
    * `[int length][UnsafeRow bytes]` records back to back (a row longer
    * than a page gets a page of its own; an empty partition has none).
    * The pages RDD is a lazy checkpoint: `localCheckpoint` (executor-local
    * blocks; a lost executor kills the truncated lineage at cluster
    * scale), or, when the session sets `graft.reliableCheckpoint=true`
    * (or the GRAFT_RELIABLE_CHECKPOINT=true env as the default),
    * persisted and then written by the reliable `checkpoint` into the
    * context's checkpoint dir, which reads the persisted pages (freed by
    * [[release]]) instead of computing the frame's last stage again. The
    * frame's rows come from its executed plan under a SQL execution, as
    * in `Dataset.localCheckpoint`, so under adaptive execution this runs
    * the frame's shuffle-map jobs; one RDD action over a view of the
    * pages then fills the checkpoint and folds `(count, sum(probe))`:
    * the jobs of an eager `localCheckpoint()`. The probe is resolved
    * against `df` and bound to its output, so the fold reads it from the
    * page rows with no second planned (and compiled) query: a foldable
    * probe is evaluated once, a column probe is read as a field, and any
    * other is interpreted per row.
    *
    * The returned frame reads the pages through a fresh view made after
    * the fill, one `UnsafeRow` per record pointing into its page (no
    * byte is copied): the view the fill ran on cached the partitions of
    * the lineage before the cut, and through them would keep every pin
    * that lineage read alive. The frame keeps the output partitioning
    * and ordering of `df`, with MEASURED statistics: the row count times the schema's default
    * row width. Spark's own rewrite carries the source plan's size
    * ESTIMATE through the checkpoint, and in a loop whose state feeds
    * back into its joins those products COMPOUND (k pinned self-joins
    * yield a BigInteger with ~2^k digits, and the driver stalls in
    * BigInteger.multiply while planning). Measured stats restart the
    * estimate chain from ground truth at every pin, so broadcast
    * decisions downstream still see honest sizes.
    */
  def pinnedSum(df: DataFrame, probe: Column): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val flag = session.conf.get("graft.reliableCheckpoint",
      sys.env.getOrElse("GRAFT_RELIABLE_CHECKPOINT", "false"))
    val reliable = flag == "true" || flag == "1"
    val schema = ds.schema
    val read = reader(ds, probe)
    val qe = ds.queryExecution
    val pages = SQLExecution.withNewExecutionId(qe,
        Some(if (reliable) "checkpoint" else "localCheckpoint")) {
      qe.executedPlan.execute()
        .mapPartitionsInternal(rows => pack(schema, rows)).setName(Pages)
    }
    if (reliable) {
      pages.persist(StorageLevel.MEMORY_AND_DISK)
      pages.checkpoint()
    } else pages.localCheckpoint()
    val (rows, s) = view(pages, schema.length).aggregate((0L, 0L))(
      (a, r) => (a._1 + 1L, a._2 + read(r)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    val width = 8L + schema.map(_.dataType.defaultSize.toLong).sum
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(rows, 1L)) * width,
      rowCount = Some(BigInt(rows)))
    val cut = LogicalRDD.fromDataset(view(pages, schema.length), ds,
      ds.isStreaming)
    (classic.Dataset.ofRows(session, cut.copy()(session, Some(stats), None)),
      rows, s)
  }

  /** `probe` cast to long, resolved against `ds` and bound to its
    * output, as a reader of one row's value (0 for null): a foldable
    * probe is evaluated here, once; a long column is read as a field;
    * any other expression is interpreted.
    */
  private def reader(ds: classic.Dataset[Row],
      probe: Column): InternalRow => Long = {
    val Project(Seq(Alias(p, _)), child) =
      ds.select(probe.cast("long")).queryExecution.analyzed: @unchecked
    val e = BindReferences.bindReference(p, child.output)
    require(e.deterministic, s"a pin's probe must be deterministic: $probe")
    e match {
      case _ if e.foldable =>
        val v = Option(e.eval()).fold(0L)(_.asInstanceOf[Long])
        _ => v
      case Cast(BoundReference(i, LongType, _), LongType, _, _) =>
        r => if (r.isNullAt(i)) 0L else r.getLong(i)
      case _ => r => Option(e.eval(r)).fold(0L)(_.asInstanceOf[Long])
    }
  }

  /** The name that marks an RDD of pin pages. */
  private val Pages = "graft pin pages"

  /** Bytes a page holds before the next record starts a new one. */
  private val PageBytes = 1 << 20

  /** Packs a partition's rows into pages of [[PageBytes]], each
    * `[int length][UnsafeRow bytes]` records back to back; a row that is
    * not an `UnsafeRow` goes through one projection made on first use.
    */
  private def pack(schema: StructType,
      rows: Iterator[InternalRow]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private lazy val toUnsafe = UnsafeProjection.create(schema)
      private var buf = new Array[Byte](4096)
      // the row read but not yet written: it did not fit the last page
      private var held: UnsafeRow = null
      private def take(): UnsafeRow = rows.next() match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
      def hasNext: Boolean = held != null || rows.hasNext
      def next(): Array[Byte] = {
        if (held == null) held = take()
        var used = 0
        while (held != null &&
            (used == 0 || used + 4 + held.getSizeInBytes <= PageBytes)) {
          val end = used + 4 + held.getSizeInBytes
          if (end > buf.length) buf = java.util.Arrays.copyOf(buf,
            math.max(end, math.min(2 * buf.length, PageBytes)))
          Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + used,
            held.getSizeInBytes)
          held.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + used + 4L)
          used = end
          held = if (rows.hasNext) take() else null
        }
        java.util.Arrays.copyOf(buf, used)
      }
    }

  /** The rows of `pages`, one `UnsafeRow` per record pointing into its
    * page.
    */
  private def view(pages: RDD[Array[Byte]],
      fields: Int): RDD[InternalRow] =
    pages.mapPartitionsInternal(_.flatMap(page => new Iterator[InternalRow] {
      private var at = 0
      def hasNext: Boolean = at < page.length
      def next(): InternalRow = {
        val len = Platform.getInt(page, Platform.BYTE_ARRAY_OFFSET + at)
        val row = new UnsafeRow(fields)
        row.pointTo(page, Platform.BYTE_ARRAY_OFFSET + at + 4L, len)
        at += 4 + len
        row
      }
    }), preservesPartitioning = true)

  /** Releases the blocks of every pin `df` reads: the pages under each
    * of its [[LogicalRDD]] leaves. `Dataset.unpersist` does not reach
    * them (a pin is not in the cache manager), so a memo that holds pins
    * releases them here on evict. Runs no job; a released pin must not
    * be read again.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.dependencies.map(_.rdd)
        .filter(_.name == Pages).foreach(_.unpersist(blocking = false))
      case _ =>
    }
}
