package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.table.DataFileMeta

/** Per-file stats of the parquet files under `dir`, aggregated by a scan
  * grouped on `_metadata.file_path`: the independent oracle that the
  * stats folded at write time are checked against. Paths are relative to
  * `root`, sorted; fields a delete-key file (doc_id only) lacks stay 0 or
  * empty, as in the table's key entries. */
object StatsOracle {
  def apply(spark: SparkSession, root: Path, dir: Path): Seq[DataFileMeta] = {
    val df = spark.read.parquet(dir.toString)
    val data = df.columns.contains("n_tok")
    val aggs = Seq(count(lit(1)), min("doc_id"), max("doc_id")) ++
      (if (data) Seq(min("n_tok"), max("n_tok"), sum(col("n_tok").cast("long")),
        min("source"), max("source"))
      else Seq.empty)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = root.toUri.getPath.stripSuffix("/") + "/"
    df.groupBy(col("_metadata.file_path")).agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
      val p = new Path(new java.net.URI(r.getString(0)))
      val (lo, hi) = if (data) (Option(r.getString(7)), Option(r.getString(8))) else (None, None)
      DataFileMeta(
        path = p.toUri.getPath.stripPrefix(rootPath),
        records = r.getLong(1), bytes = fs.getFileStatus(p).getLen,
        minDocId = r.getString(2), maxDocId = r.getString(3),
        minNTok = if (data) r.getInt(4) else 0, maxNTok = if (data) r.getInt(5) else 0,
        sumNTok = if (data) r.getLong(6) else 0L,
        sources = if (lo.nonEmpty && lo == hi) lo.toSeq else Seq.empty,
        minSource = lo, maxSource = hi)
    }.sortBy(_.path)
  }
}
