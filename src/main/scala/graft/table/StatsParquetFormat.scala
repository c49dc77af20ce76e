package graft.table

import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** Parquet whose writers fold each file's [[DataFileMeta]] stats (records,
  * doc_id / n_tok / source ranges, token sum) as rows pass through, so a
  * write needs no second job to learn them. Writable only through
  * [[StatsParquetFormat.write]], which hands each write its own stats
  * accumulator. */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(
      spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val acc = options.get(StatsParquetFormat.HandleOption).flatMap(StatsParquetFormat.open.get)
      .getOrElse(throw new IllegalStateException(
        s"${getClass.getName} writes only through StatsParquetFormat.write"))
    // the job conf is this write's own copy; its tasks and committer open
    // the files they create through it
    LocalFileBinding.bind(job.getConfiguration)
    new StatsWriterFactory(super.prepareWrite(spark, job, options, dataSchema), acc)
  }
}

object StatsParquetFormat {
  private val HandleOption = "graft.stats.handle"
  /** Stats accumulators of the writes in flight, by handle; `prepareWrite`
    * looks its own up before any write task starts. */
  private val open = TrieMap.empty[String, CollectionAccumulator[DataFileMeta]]

  /** Write `df` as parquet under `dir` (which must not exist) and return
    * one entry per written file holding rows, with its path relative to
    * `root`, its listed size and its write-time stats, sorted by path.
    * A write of zero rows in total leaves no `dir` and returns nothing. */
  private[table] def write(
      df: DataFrame, dir: Path, partitionCols: Seq[String],
      options: Map[String, String], fs: FileSystem, root: Path): Seq[DataFileMeta] = {
    val acc = df.sparkSession.sparkContext.collectionAccumulator[DataFileMeta]("graft-write-stats")
    val handle = UUID.randomUUID().toString
    open.put(handle, acc)
    try df.write.mode("errorifexists").options(options).partitionBy(partitionCols: _*)
      .format(classOf[StatsParquetFormat].getName).option(HandleOption, handle)
      .save(dir.toString)
    finally open.remove(handle)
    val stats = acc.value.asScala.toSeq
    if (stats.forall(_.records == 0L)) { fs.delete(dir, true); return Seq.empty }
    // Only files the listing finds are staged: a failed task attempt's
    // stats never reach the accumulator and its files never reach `dir`.
    // A writer's task-attempt path ends with its file's path relative to
    // `dir`; part-file names repeat across partition dirs, so the whole
    // relative path is matched.
    val byName = stats.groupBy(s => s.path.substring(s.path.lastIndexOf('/') + 1))
    TokenTable.listParquetFast(fs, dir).flatMap { case (p, len, _) =>
      val rel = TokenTable.relativize(dir, p)
      byName.getOrElse(p.getName, Nil).filter(_.path.endsWith("/" + rel)) match {
        // a task whose partition is empty can still write a schema-only file
        case Seq(s) if s.records == 0L => fs.delete(p, false); None
        case Seq(s) => Some(s.copy(path = TokenTable.relativize(root, p), bytes = len))
        case found => throw new IllegalStateException(
          s"staged file $p has ${found.size} write-time stats entries, expected 1")
      }
    }.sortBy(_.path)
  }
}

private final class StatsWriterFactory(
    inner: OutputWriterFactory, acc: CollectionAccumulator[DataFileMeta])
    extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)
  override def newInstance(
      path: String, dataSchema: StructType, context: TaskAttemptContext): OutputWriter =
    new StatsWriter(inner.newInstance(path, dataSchema, context), dataSchema, acc)
}

/** Passes rows to `inner` and, on close, adds the file's stats to `acc` as
  * a [[DataFileMeta]] carrying the writer's task-attempt path (bytes 0).
  * Strings compare in UTF8String binary order, the order of Spark's
  * min/max and of parquet's footer stats. Delete-key files carry doc_id
  * only: their n_tok fields stay 0 and their source fields empty. */
private final class StatsWriter(
    inner: OutputWriter, schema: StructType, acc: CollectionAccumulator[DataFileMeta])
    extends OutputWriter {
  private def index(name: String): Int = schema.fieldNames.indexOf(name)
  private val docIdx = index("doc_id")
  private val tokIdx = index("n_tok")
  private val srcIdx = index("source")
  private var records = 0L
  private var minDoc, maxDoc, minSrc, maxSrc: UTF8String = null
  private var minTok = Int.MaxValue
  private var maxTok = Int.MinValue
  private var sumTok = 0L

  // retained values are cloned: writers reuse the buffers of the rows they get
  private def least(cur: UTF8String, v: UTF8String) =
    if (cur != null && cur.compareTo(v) <= 0) cur else v.clone()
  private def greatest(cur: UTF8String, v: UTF8String) =
    if (cur != null && cur.compareTo(v) >= 0) cur else v.clone()

  override def write(row: InternalRow): Unit = {
    inner.write(row)
    records += 1
    if (docIdx >= 0 && !row.isNullAt(docIdx)) {
      val d = row.getUTF8String(docIdx)
      minDoc = least(minDoc, d); maxDoc = greatest(maxDoc, d)
    }
    if (tokIdx >= 0 && !row.isNullAt(tokIdx)) {
      val t = row.getInt(tokIdx)
      minTok = math.min(minTok, t); maxTok = math.max(maxTok, t); sumTok += t
    }
    if (srcIdx >= 0 && !row.isNullAt(srcIdx)) {
      val s = row.getUTF8String(srcIdx)
      minSrc = least(minSrc, s); maxSrc = greatest(maxSrc, s)
    }
  }

  override def close(): Unit = {
    inner.close()
    val (lo, hi) = (Option(minSrc).map(_.toString), Option(maxSrc).map(_.toString))
    val anyTok = minTok <= maxTok
    acc.add(DataFileMeta(
      path = inner.path(), records = records, bytes = 0L,
      minDocId = Option(minDoc).map(_.toString).orNull,
      maxDocId = Option(maxDoc).map(_.toString).orNull,
      minNTok = if (anyTok) minTok else 0, maxNTok = if (anyTok) maxTok else 0,
      sumNTok = sumTok,
      sources = if (lo.nonEmpty && lo == hi) lo.toSeq else Seq.empty,
      minSource = lo, maxSource = hi))
  }

  override def path(): String = inner.path()
}
