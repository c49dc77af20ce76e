package graft.table

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Cast,
  InterpretedUnsafeProjection, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.maintenance.Ledger

/** Injectable clock — mirrors the reference's frozen-time golden tests
  * (reference tests/integration/test_pipeline_and_data_interpretation.py:61-62). */
object Clock {
  @volatile private var fixed: Option[Long] = None
  def freeze(ms: Long): Unit = { fixed = Some(ms) }
  def thaw(): Unit = { fixed = None }
  def nowMs(): Long = fixed.getOrElse(System.currentTimeMillis())
}

final class CommitConflictException(msg: String) extends RuntimeException(msg)

/**
 * The Graft token table: an Iceberg-style copy-on-write snapshot table of
 * pre-tokenized training sequences
 * `(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)`.
 *
 * Commit protocol (HadoopCatalog-style): new metadata is written to a temp
 * file and renamed to `metadata/v<N+1>.json`; `FileSystem.rename` refuses to
 * clobber an existing destination, so the first committer of version N+1
 * wins and losers re-read, re-validate and retry. `version-hint.text` is an
 * advisory fast path; readers fall back to scanning for the max version.
 *
 * This is the Spark-native recast of nodestream's atomic write path
 * (GraphDatabaseWriter flush + ObjectStore checkpoints,
 * reference nodestream/databases/writer.py:24-104,
 * nodestream/pipeline/object_storage.py:143-344).
 */
class TokenTable private (val root: Path, val fs: FileSystem) {

  import TokenTable._

  /** Manifest lists by list-file path. List files are immutable (written once
    * at the commit that created their snapshot), so entries never invalidate;
    * [[hydrate]] evicts entries for expired snapshots, bounding size to
    * retained history. With a warm cache a refresh reads
    * v{N}.json plus only the list files of snapshots it has not seen —
    * steady-state O(1) reads per refresh on a streaming table. Declared
    * before `meta`: the constructor's initial load already hydrates. */
  private val manifestListCache =
    scala.collection.concurrent.TrieMap.empty[String, ManifestListFile]

  /** Test hook: cached manifest-list count (must track retained history). */
  private[graft] def manifestListCacheSize: Int = manifestListCache.size

  @volatile private var meta: TableMetadata = loadCurrentMetadata()

  def metadata: TableMetadata = meta
  def refresh(): TableMetadata = { meta = loadCurrentMetadata(); meta }

  def metadataDir: Path = new Path(root, "metadata")
  def dataDir: Path = new Path(root, "data")

  // ---------------------------------------------------------------- reading

  private def loadCurrentMetadata(): TableMetadata = loadVersioned()._1

  /** Load the current metadata TOGETHER with the version file it came from.
    * A committer must publish at exactly (that version + 1): re-reading
    * `currentVersion()` at publish time unties the slot from the loaded
    * base, and a commit landing in between makes the stale base publish as
    * the NEXT slot — silently dropping the interleaved snapshot (observed
    * as a vanished merge under concurrent writers; both returned the same
    * snapshot id). With the slot pinned, the interleaved case loses the
    * atomic publish and replans. */
  private def loadVersioned(): (TableMetadata, Int) = {
    val v = currentVersion()
    require(v >= 0, s"no table at $root")
    val raw = TableJson.readMetadata(readString(fs, new Path(metadataDir, s"v$v.json")))
    // Fail LOUDLY on metadata written by a newer format. Version 2 moved
    // per-snapshot manifest lists into snap-* files (`manifests` empty on
    // disk, a `manifestList` ref instead) — a version-1 reader parsing it
    // leniently would see every snapshot as EMPTY and silently read (or
    // GC!) the table as if it held no files.
    require(raw.formatVersion <= TokenTable.CurrentFormatVersion,
      s"table at $root has format version ${raw.formatVersion}, this build " +
        s"reads at most ${TokenTable.CurrentFormatVersion} — upgrade the reader")
    (hydrate(raw), v)
  }

  /** Refresh the cached metadata and return it with its version — the
    * commit loops' entry point (see [[loadVersioned]]). */
  private def refreshVersioned(): (TableMetadata, Int) = {
    val lv = loadVersioned()
    meta = lv._1
    lv
  }

  /** Populate every snapshot's manifests from its manifest-list file. A
    * cold instance pays one small read per retained snapshot (bounded by
    * [[expireSnapshots]]); inline-format snapshots (pre-manifest-list
    * metadata) pass through unchanged. */
  private def hydrate(m: TableMetadata): TableMetadata = {
    val out = m.copy(snapshots = m.snapshots.map { s =>
      s.manifestList match {
        case Some(rel) if s.manifests.isEmpty && s.deletes.isEmpty =>
          val list = manifestListCache.getOrElseUpdate(
            rel, TableJson.readManifestList(readString(fs, new Path(metadataDir, rel))))
          s.copy(manifests = list.manifests, deleteManifests = list.deleteManifests)
        case _ => s
      }
    })
    // Evict lists of snapshots no longer retained — this is what actually
    // bounds the cache to retained history: a long-lived streaming writer
    // (one commit per trigger + periodic expireSnapshots) would otherwise
    // leak one cached list per snapshot EVER committed. Evicting an entry a
    // racing commit just wrote is benign: the file is immutable on disk and
    // the committer's in-memory metadata is already hydrated.
    val referenced = m.snapshots.flatMap(_.manifestList).toSet
    manifestListCache.keysIterator.foreach(k =>
      if (!referenced.contains(k)) manifestListCache.remove(k))
    out
  }

  /** Spill each snapshot's manifest list to its own immutable file so the
    * version file carries only headers. Returns (in-memory form: hydrated +
    * stamped with list refs so later commits reuse the files, on-disk form:
    * lists emptied). Racing committers of the same snapshot id write
    * distinct uuid-suffixed files; the loser's becomes an orphan that
    * [[removeOrphans]] sweeps. */
  private def dehydrate(m: TableMetadata): (TableMetadata, TableMetadata) = {
    val stamped = m.snapshots.map { s =>
      s.manifestList match {
        case Some(_) => s
        case None =>
          val rel = s"snap-${s.snapshotId}-${UUID.randomUUID().toString.take(8)}.json"
          val list = ManifestListFile(s.manifests, s.deleteManifests)
          writeString(fs, new Path(metadataDir, rel), TableJson.write(list))
          manifestListCache.put(rel, list)
          s.copy(manifestList = Some(rel))
      }
    }
    // Spilled manifest lists are a format change (a lenient version-1
    // reader would see empty snapshots): stamp the on-disk file version 2
    // so a pre-feature reader's load fails loudly instead.
    val fv =
      if (stamped.exists(_.manifestList.isDefined)) TokenTable.CurrentFormatVersion
      else m.formatVersion
    val inMem = m.copy(formatVersion = fv, snapshots = stamped)
    val onDisk = inMem.copy(snapshots = stamped.map(
      _.copy(manifests = Seq.empty, deleteManifests = None)))
    (inMem, onDisk)
  }

  def currentVersion(): Int = {
    val hint = new Path(metadataDir, "version-hint.text")
    val fromHint =
      if (fs.exists(hint)) scala.util.Try(readString(fs, hint).trim.toInt).getOrElse(-1)
      else -1
    // The hint is advisory: a crashed committer may have renamed v<N>.json but
    // died before updating it. Probe forward from the hint.
    var v = math.max(fromHint, -1)
    while (fs.exists(new Path(metadataDir, s"v${v + 1}.json"))) v += 1
    v
  }

  def manifestEntries(s: Snapshot): Seq[DataFileMeta] = s.manifests.flatMap(entriesIn)

  private def entriesIn(m: ManifestMeta): Seq[DataFileMeta] =
    TableJson.readManifest(readString(fs, new Path(metadataDir, m.path)))

  /** All live data files of a snapshot (paths relative to table root). */
  def liveFiles(snapshotId: Option[Long] = None): Seq[DataFileMeta] =
    snapshotIn(meta, snapshotId).toSeq.flatMap(manifestEntries)

  /** Snapshot `snapshotId` of `m`, or `m`'s current one: none before the
    * first commit, so an empty table has no files and no deletes. */
  private def snapshotIn(m: TableMetadata, snapshotId: Option[Long]): Option[Snapshot] =
    snapshotId.fold(m.currentSnapshot)(id =>
      Some(m.snapshot(id).getOrElse(sys.error(s"unknown snapshot $id"))))

  // ---- snapshot-consistent planning views -------------------------------
  // A maintenance planner — and every read — must derive EVERY view it uses
  // (live files, pending delete paths, delete entries, spec, schema, current
  // snapshot id) from ONE immutable TableMetadata value. Two separate reads
  // of the volatile `meta` open a race: a merge-on-read commit landing
  // between them makes the planned delete-path set include the new delete
  // while the victim set predates its appended file — commit validation then
  // passes and the rewrite commits a second live copy of the upserted key;
  // a read pairs one snapshot's files with the next one's deletes and loses
  // the upserted key altogether.

  /** Live data files of `m`'s current snapshot. */
  def liveFiles(m: TableMetadata): Seq[DataFileMeta] =
    snapshotIn(m, None).toSeq.flatMap(manifestEntries)

  /** Pending equality-delete key entries of `m`'s current snapshot. */
  def deleteEntriesOf(m: TableMetadata): Seq[DataFileMeta] =
    m.currentSnapshot.map(deleteEntries).getOrElse(Seq.empty)

  /** Pending equality-delete file paths of `m`'s current snapshot — the
    * value a rewrite passes to commit(readDeletePaths = …). */
  def deletePathsOf(m: TableMetadata): Set[String] =
    m.currentSnapshot.map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)

  /**
   * Manifest-level min/max pruning (our analogue of the reference's
   * pushdown, …/dynamodb_extractor.py:70-85): select only files whose stats
   * ranges intersect the requested bounds, then hand Spark the exact file
   * list — Catalyst still applies parquet row-group pruning below us.
   */
  def planFiles(
      snapshotId: Option[Long] = None,
      docIdRange: Option[(String, String)] = None,
      sourceIn: Option[Set[String]] = None,
      nTokRange: Option[(Int, Int)] = None,
      // one-sided bounds: pruning must never close an open side with a
      // sentinel value (a \uffff upper bound would wrongly drop files whose
      // minDocId sorts above it, e.g. supplementary-plane ids)
      docIdLo: Option[String] = None, docIdHi: Option[String] = None,
      nTokLo: Option[Int] = None, nTokHi: Option[Int] = None): Seq[DataFileMeta] =
    planFilesIn(meta, snapshotId,
      (docIdLo.toSeq ++ docIdRange.map(_._1)).maxOption,
      (docIdHi.toSeq ++ docIdRange.map(_._2)).minOption,
      sourceIn,
      (nTokLo.toSeq ++ nTokRange.map(_._1)).maxOption,
      (nTokHi.toSeq ++ nTokRange.map(_._2)).minOption)

  /** [[planFiles]] against one metadata value, each bound already combined. */
  private[graft] def planFilesIn(
      m: TableMetadata, snapshotId: Option[Long],
      dLo: Option[String], dHi: Option[String], sourceIn: Option[Set[String]],
      tLo: Option[Int], tHi: Option[Int]): Seq[DataFileMeta] = {
    // truncate(n_tok, w) partition values allow stats-free exact range
    // pruning: a file whose tuple records truncate value v holds only rows
    // with n_tok in [v, v + w)
    val truncFields = m.spec.filter(f => f.transform == "truncate" && f.column == "n_tok")
    snapshotIn(m, snapshotId).toSeq.flatMap(manifestEntries).filter { f =>
      dLo.forall(lo => f.maxDocId >= lo) && dHi.forall(hi => f.minDocId <= hi) &&
      // identity-partition value beats stats when recorded (exact, not a range)
      sourceIn.forall(s => f.partitionValue("source") match {
        case Some(v) => s.contains(v)
        case None    => f.sourceIntersects(s)
      }) &&
      tLo.forall(lo => f.maxNTok >= lo) && tHi.forall(hi => f.minNTok <= hi) &&
      truncFields.forall { tf =>
        // files written under a different width record a different tuple
        // key -> None -> conservatively included (same evolution-safety
        // contract as bucket pruning in planFilesForKey)
        f.partitionValue(tf.name).forall(v => Partitioning.truncateIntervalMayContain(
          v, tf.n.get, tLo.map(_.toLong), tHi.map(_.toLong)))
      }
    }
  }

  /** Files that may contain `docId` — doc range stats AND, when the spec
    * buckets doc_id and the file records its tuple, bucket equality. On a
    * bucket(doc_id, N)-partitioned table a point lookup reads ~1/N of the
    * range-matching files; at 10^12 sequences this is the difference between
    * a key probe and a table scan. */
  def planFilesForKey(docId: String): Seq[DataFileMeta] = planFilesForKeyIn(meta, docId)

  private def planFilesForKeyIn(m: TableMetadata, docId: String): Seq[DataFileMeta] = {
    // no row's doc_id equals a null key
    if (docId == null) return Seq.empty
    val bucketFields = m.spec.filter(f => f.transform == "bucket" && f.column == "doc_id")
    val docIdType = schemaOf(m)("doc_id").dataType
    liveFiles(m).filter { f =>
      f.minDocId <= docId && f.maxDocId >= docId &&
      // spec evolution safety: the tuple key carries the bucket count, so a
      // file written under a different n records a different key name,
      // partitionValue is None, and the file is conservatively included
      bucketFields.forall { bf =>
        f.partitionValue(bf.name).forall(_ == Partitioning.transformValue(bf, docId, docIdType))
      }
    }
  }

  /** Point lookup through bucket + range pruning, with pending MoR deletes
    * applied like any scan: the rows of `scan(spark)` whose `doc_id` equals
    * `docId` (none for a null key), read in the metadata the call pins.
    *
    * The planned files are read on the driver, at call time, and the result
    * is a DataFrame over a local relation: a projection or filter over it
    * folds into the local data, so collecting it runs no Spark job. Each
    * file is probed on its `doc_id` column alone, with the key pushed down;
    * a file that holds the key is dropped when a key file that applies to it
    * ([[TokenTable.deleteApplies]]) holds the key too, and only the files
    * left decode their other columns. */
  def lookup(spark: SparkSession, docId: String): DataFrame = {
    val m = meta
    val files = planFilesForKeyIn(m, docId)
    val keyFiles = deleteEntriesOf(m).filter(d =>
      files.exists(deleteApplies(d, _)) && d.minDocId <= docId && d.maxDocId >= docId)
    val conf = LocalFileBinding.hadoopConf(spark)
    parquetReadConfs.foreach(k => conf.set(k, spark.conf.get(k)))
    val holdsKey = scala.collection.mutable.Map.empty[String, Boolean]
    def holds(f: DataFileMeta, keyColumn: StructField): Boolean =
      holdsKey.getOrElseUpdate(f.path, {
        var hit = false
        readKeyRows(conf, f, StructType(Seq(keyColumn)), keyColumn.name, docId) { _ =>
          hit = true; false
        }
        hit
      })
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val rows = files.flatMap { f =>
      val v = versionRead(m, f.schemaIdOr0, tz)
      val physical = relax(v.physical).asInstanceOf[StructType]
      val keyColumn = physical(v.docIdColumn)
      if (!holds(f, keyColumn) ||
          keyFiles.exists(d => deleteApplies(d, f) && holds(d, StructField("doc_id", StringType)))) Nil
      else {
        val project = InterpretedUnsafeProjection.createProjection(v.columns.map(_.transform {
          case a: UnresolvedAttribute =>
            val i = physical.fieldIndex(a.nameParts.head)
            BoundReference(i, physical(i).dataType, nullable = true)
        }))
        val out = Seq.newBuilder[InternalRow]
        readKeyRows(conf, f, physical, v.docIdColumn, docId) { r => out += project(r).copy(); true }
        out.result()
      }
    }
    val schema = relax(schemaOf(m)).asInstanceOf[StructType]
    PlanBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** Calls `onRow` with each row of file `f` whose string column
    * `keyColumn` equals `key`, read on the driver in `requested`, a subset
    * of the file's columns that holds `keyColumn`. The key is pushed down,
    * so footer statistics skip row groups and page indexes skip pages that
    * cannot hold it. `conf` carries [[TokenTable.parquetReadConfs]]; the
    * read sets its reader, requested schema and filter there. A row is
    * valid only during its call, and reading stops at the first call that
    * returns false. */
  private def readKeyRows(
      conf: Configuration, f: DataFileMeta, requested: StructType, keyColumn: String,
      key: String)(onRow: InternalRow => Boolean): Unit = {
    val path = new Path(root, f.path)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    ParquetInputFormat.setFilterPredicate(conf,
      FilterApi.eq(FilterApi.binaryColumn(keyColumn), Binary.fromString(key)))
    val opened = ParquetFooterReader.openFileAndReadFooter(conf,
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0, f.bytes, fileSize = f.bytes),
      true)
    try {
      val written = (k: String) => opened.footer.getFileMetaData.getKeyValueMetaData.get(k)
      val dates = DataSourceUtils.datetimeRebaseSpec(
        written, conf.get(SQLConf.PARQUET_REBASE_MODE_IN_READ.key))
      val int96 = DataSourceUtils.int96RebaseSpec(
        written, conf.get(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key))
      // no INT96 time-zone conversion: Spark applies it only to files that
      // parquet-mr did not write, and the table writes every file through it
      val reader = new VectorizedParquetRecordReader(null, dates.mode.toString, dates.timeZone,
        int96.mode.toString, int96.timeZone, false,
        conf.getInt(SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE.key, 4096))
      try {
        reader.initialize(new FileSplit(path, 0, f.bytes, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()),
          Some(opened.inputFile), Some(opened.inputStream), Some(opened.footer))
        val k = UTF8String.fromString(key)
        val i = requested.fieldIndex(keyColumn)
        var more = true
        while (more && reader.nextKeyValue()) {
          val row = reader.getCurrentValue.asInstanceOf[InternalRow]
          if (!row.isNullAt(i) && row.getUTF8String(i) == k) more = onRow(row)
        }
      } finally reader.close()
    } finally opened.inputStream.close()
  }

  /** Equality-delete key entries pending on a snapshot (merge-on-read). */
  def deleteEntries(s: Snapshot): Seq[DataFileMeta] = s.deletes.flatMap(entriesIn)

  def scan(
      spark: SparkSession,
      snapshotId: Option[Long] = None,
      docIdRange: Option[(String, String)] = None,
      sourceIn: Option[Set[String]] = None,
      nTokRange: Option[(Int, Int)] = None): DataFrame = {
    val m = meta
    val files = planFilesIn(m, snapshotId, docIdRange.map(_._1), docIdRange.map(_._2),
      sourceIn, nTokRange.map(_._1), nTokRange.map(_._2))
    // interleaving point for the torn-read regression test: a commit through
    // this handle HERE must not reach this read's deletes
    graft.maintenance.Failpoints.hitCallback("table.scan.after-plan")
    readFilesIn(spark, m, files, snapshotIn(m, snapshotId).toSeq.flatMap(deleteEntries))
  }

  /**
   * Read data files with merge-on-read equality deletes applied: a row is
   * dropped when its `doc_id` appears in a delete key file with a HIGHER
   * sequence (TableMeta.addedSeq) than the row's data file. Because every
   * rewrite path (compact / cluster / MERGE) reads its victims through here,
   * a rewrite can never resurrect deleted rows — the rewritten file gets a
   * fresh higher sequence the old deletes no longer apply to, and the
   * deleted rows were filtered on the way in (deletes materialize for free
   * as files get touched).
   *
   * Files some delete applies to (higher sequence AND intersecting doc
   * range, see [[TokenTable.deleteApplies]]) go through ONE left-anti join
   * against every applicable key file, matching on
   * `doc_id = _ddoc AND _dseq > _fseq`: each side is one parquet scan, and
   * a row's sequence is its file's, looked up by `_metadata.file_path` in a
   * map built from the manifest entries. One join, one key-file read, however
   * many commits are pending. The data side carries the file path and looks
   * its sequence up inside the join condition, so the lookup runs only for
   * rows whose key matched. A key, or a matched row, whose file is missing
   * from its map fails the read instead of turning the condition null, which
   * would let a deleted row survive.
   * Files no delete applies to are read plain and unioned after the join.
   * The build side is the key set — AQE broadcasts it when it fits,
   * shuffles otherwise; no hint.
   *
   * Tagging per-sequence frames with `lit(seq)` and unioning them instead
   * would not work: Catalyst pushes the anti-join through the union and
   * folds the condition per branch, one join and key read per sequence.
   *
   * Every file is projected into the *current* schema by field-id
   * (rename-safe, like Iceberg): files written under an older schema version
   * keep their physical column names; each current field resolves to the
   * physical name its id had at write time, or null for columns added since.
   */
  def readFiles(
      spark: SparkSession, files: Seq[DataFileMeta],
      deletes: Seq[DataFileMeta]): DataFrame = readFilesIn(spark, meta, files, deletes)

  /** [[readFiles]] in the schema of one metadata value. */
  private[graft] def readFilesIn(
      spark: SparkSession, m: TableMetadata, files: Seq[DataFileMeta],
      deletes: Seq[DataFileMeta]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schemaOf(m))
    val (dirty, clean) = files.partition(f => deletes.exists(deleteApplies(_, f)))
    if (dirty.isEmpty) return readSchemaGroups(spark, m, files, withFilePath = false)
    val keyFiles = deletes.filter(d => dirty.exists(deleteApplies(d, _)))
    val rows = readSchemaGroups(spark, m, dirty, withFilePath = true)
    val keys = spark.read.schema(StructType(Seq(StructField("doc_id", StringType))))
      .parquet(keyFiles.map(d => new Path(root, d.path).toString): _*)
    val keySeqs = keys.select(col("doc_id").as("_ddoc"),
      sequenceOf(scanPathSequences(keys, keyFiles), col("_metadata.file_path")).as("_dseq"))
    val kept = rows.join(keySeqs,
      col("doc_id") === col("_ddoc") &&
        col("_dseq") > sequenceOf(scanPathSequences(rows, dirty), col("_fpath")),
      "left_anti").drop("_fpath")
    if (clean.isEmpty) kept
    else readSchemaGroups(spark, m, clean, withFilePath = false).unionByName(kept)
  }

  /** `_metadata.file_path` of every file `df` scans → that file's commit
    * sequence. Keys are built from `df.inputFiles` the way Spark derives the
    * metadata column from a scanned file's path (SparkPath → Path → string
    * → Path → URI), so they match it exactly whatever the root's spelling. */
  private def scanPathSequences(df: DataFrame, files: Seq[DataFileMeta]): Map[String, Long] = {
    val seqs = files.map(f => f.path -> f.seqOr0).toMap
    df.inputFiles.iterator.map { s =>
      val p = org.apache.spark.paths.SparkPath.fromUrlString(s).toPath
      new Path(p.toString).toUri.toString -> seqs(relativize(root, p))
    }.toMap
  }

  /** Read files in `m`'s current schema: one scan per schema version,
    * projected by [[versionRead]] and unioned. `withFilePath` adds `_fpath`
    * (`_metadata.file_path`), taken from each scan in the projection that
    * hides the metadata column. */
  private def readSchemaGroups(
      spark: SparkSession, m: TableMetadata, files: Seq[DataFileMeta],
      withFilePath: Boolean): DataFrame = {
    val filePath = if (withFilePath) Seq(col("_metadata.file_path").as("_fpath")) else Seq.empty
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    files.groupBy(_.schemaIdOr0).toSeq.sortBy(_._1).map { case (sid, fs) =>
      val v = versionRead(m, sid, tz)
      spark.read.schema(v.physical).parquet(fs.map(f => new Path(root, f.path).toString): _*)
        .select(v.columns.map(ColumnBridge.column) ++ filePath: _*)
    }.reduce(_.unionByName(_))
  }

  /** How files written under schema version `sid` read in `m`'s current
    * schema, for both readers: one named expression per current field over
    * the version's physical columns, referenced by name. A field resolves by
    * field id to the physical column its id had at write time (rename-safe,
    * like Iceberg), cast where the type differs (in session time zone
    * `tz`), or null for a column added since. */
  private def versionRead(m: TableMetadata, sid: Int, tz: String): VersionRead = {
    val ver = m.schemaVersion(sid)
    val physical = DataType.fromJson(ver.schemaJson).asInstanceOf[StructType]
    val idToPhys: Map[Int, String] = ver.fieldIds.map(_.swap)
    val current = m.schemaVersion(m.schemaIdNow).fieldIds
    val columns = schemaOf(m).fields.toSeq.map { f =>
      val e = idToPhys.get(current(f.name)) match {
        case Some(p) if physical(p).dataType.sql == f.dataType.sql => UnresolvedAttribute.quoted(p)
        case Some(p) => Cast(UnresolvedAttribute.quoted(p), f.dataType, Some(tz))
        case None => Literal.create(null, f.dataType)
      }
      Alias(e, f.name)()
    }
    VersionRead(physical, columns, idToPhys(current("doc_id")))
  }

  def schema: StructType = schemaOf(meta)

  private def schemaOf(m: TableMetadata): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  // ------------------------------------------------------- schema evolution

  /** Metadata-only schema evolution: reduce the op stream (create+drop ⇒
    * no-op, rename chains collapse — the reference's migration reduction,
    * nodestream/schema/migrations/operations.py:94-149), apply to the
    * current schema, commit a new schema version. No data file is touched. */
  def evolveSchema(ops: Seq[SchemaOp]): TableMetadata = {
    val reduced = SchemaEvolution.reduce(ops)
    if (reduced.isEmpty) return refresh()
    updateMeta(base => withEvolvedSchema(base, reduced))
  }

  /** Apply already-reduced ops to a metadata value: new schema version with
    * stable field-ids appended to the log (shared by evolveSchema and the
    * atomic migration path — one place to fix schema evolution). */
  private def withEvolvedSchema(base: TableMetadata, reduced: Seq[SchemaOp]): TableMetadata = {
    if (reduced.isEmpty) return base
    val cur = base.schemaVersion(base.schemaIdNow)
    val curSchema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val (newSchema, newIds) = SchemaEvolution.applyOps(curSchema, cur.fieldIds, reduced)
    val newVer = SchemaVersion(base.schemaIdNow + 1, newSchema.json, newIds)
    base.copy(
      schemaJson = newSchema.json,
      currentSchemaId = Some(newVer.schemaId),
      schemaLog = Some(base.schemas :+ newVer))
  }

  /** Table-property key holding the JSON list of applied migration names. */
  private val AppliedMigrationsKey = "applied-migrations"

  def appliedMigrations(): Set[String] = {
    val m = refresh()
    m.properties.get(AppliedMigrationsKey) match {
      case None    => Set.empty
      case Some(j) =>
        implicit val f: org.json4s.Formats = TableJson.formats
        org.json4s.jackson.JsonMethods.parse(j).extract[Seq[String]].toSet
    }
  }

  /**
   * Apply a named migration's (already reduced or raw) ops and record the
   * name — ONE atomic metadata commit, so a crash can never leave the
   * schema change applied but unrecorded (the double-apply window a
   * separate side-channel log would have). Recording works for no-op
   * migrations too. Idempotent: an already-recorded name returns without
   * touching anything.
   */
  def applyMigration(name: String, ops: Seq[SchemaOp]): TableMetadata = {
    val reduced = SchemaEvolution.reduce(ops)
    // updateMeta retries on lost races; an already-recorded name makes the
    // update the identity (idempotent re-run, no version bump needed — but
    // updateMeta always commits, so short-circuit first).
    val already = appliedMigrations()
    if (already.contains(name)) return metadata
    updateMeta { base =>
      val applied: Seq[String] = base.properties.get(AppliedMigrationsKey) match {
        case None    => Seq.empty
        case Some(j) =>
          implicit val f: org.json4s.Formats = TableJson.formats
          org.json4s.jackson.JsonMethods.parse(j).extract[Seq[String]]
      }
      if (applied.contains(name)) base
      else withEvolvedSchema(base, reduced).copy(properties = base.properties +
        (AppliedMigrationsKey -> TableJson.write(applied :+ name)))
    }
  }

  // ---------------------------------------------------------------- writing

  /** Conform a batch to the table's current schema BEFORE any bytes land:
    * reject unknown columns loudly, fill missing NULLABLE (evolved) columns
    * with NULL — the full-row-upsert contract MoR merges pin in
    * `MorMergeSpec` — reject missing non-nullable ones, and insert ANSI
    * casts where the type differs but store-assignment is legal (long → int
    * throws on overflow at runtime instead of writing it). Without this, a
    * type-sloppy batch (e.g. `array(lit(42L))` into an `array<int>` column)
    * writes parquet whose physical types disagree with the pinned table
    * schema and every later scan of the table fails — corruption by append.
    * Purely an analysis-time projection: internal rewrite paths
    * (compact/cluster/merge outputs re-read from the table) resolve to
    * all-identity and cost nothing at runtime. `extra` columns pass through
    * unchanged after the table's. */
  private def conformToSchema(
      df: DataFrame, schema: StructType, extra: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.EvalMode
    // nullability is declarative here (writes never enforced it; parquet
    // physical types are what pinned-schema readers check) — compare and
    // cast on nullability-relaxed types throughout
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val unknown = df.columns.filterNot(c => schema.fieldNames.contains(c) || extra.contains(c))
    require(unknown.isEmpty,
      s"batch has columns not in the table schema: ${unknown.mkString(", ")} " +
        s"(table columns: ${schema.fieldNames.mkString(", ")})")
    val cols = schema.fields.map { f =>
      byName.get(f.name) match {
        case None if f.nullable =>
          lit(null).cast(relax(f.dataType)).as(f.name)
        case None => throw new IllegalArgumentException(
          s"batch is missing non-nullable table column '${f.name}: ${f.dataType.simpleString}'")
        case Some(in) if relax(in.dataType) == relax(f.dataType) => col(f.name)
        case Some(in) =>
          require(Cast.canANSIStoreAssign(relax(in.dataType), relax(f.dataType)),
            s"batch column '${f.name}' has type ${in.dataType.simpleString}, " +
              s"not storable into table type ${f.dataType.simpleString}")
          // The cast itself must be ANSI regardless of the session's
          // spark.sql.ansi.enabled: Column.cast follows the session flag, so
          // in a LEGACY session a long→int overflow would silently wrap and
          // commit corrupted values while the contract promises a loud
          // failure. Build the Cast with EvalMode.ANSI explicitly (timezone
          // is filled in by the analyzer's ResolveTimeZone rule).
          ColumnBridge.column(Cast(
            ColumnBridge.expression(col(f.name)),
            relax(f.dataType), None, EvalMode.ANSI)).as(f.name)
      }
    }
    // fast path: same names, order, and physical types → no projection
    val same = df.columns.toSeq == schema.fieldNames.toSeq ++ extra &&
      schema.fields.forall(f => relax(byName(f.name).dataType) == relax(f.dataType))
    if (same) df else df.select((cols.toIndexedSeq ++ extra.map(col)): _*)
  }

  /** Stage a DataFrame into data/ under a unique job prefix; returns file metas
    * with per-file stats folded by the writer. No snapshot is committed —
    * callers record staged units in the ledger and commit atomically at the end.
    *
    * `splitBy` names a non-null boolean column of `dfIn` outside the table
    * schema: it splits the staged files into `<splitBy>=true/` and
    * `<splitBy>=false/` directories, ahead of any partition directory. It
    * is written into no file and is part of no file's partition tuple;
    * [[TokenTable.stagedUnder]] tells the two kinds of file apart. */
  def stageWrite(
      dfIn: DataFrame, jobId: String, splitBy: Option[String] = None): Seq[DataFileMeta] = {
    val df = conformToSchema(dfIn, schema, splitBy.toSeq)
    val stagingDir = new Path(dataDir, jobId)
    val spec = meta.spec
    val partitionCols = splitBy.toSeq ++ spec.map(Partitioning.partitionColName)
    val staged =
      if (partitionCols.isEmpty) writeStaged(df, stagingDir)
      else {
        // Partition-aligned write: derived `_p_*` columns drive partitionBy so
        // every output file holds exactly ONE partition tuple; the original
        // data columns stay in the file (identity values are duplicated into
        // `_p_*`, never moved), so readers are unchanged. The tuple is
        // recovered from the directory path below and recorded per file.
        // sortWithinPartitions(partition columns, doc_id): the
        // dynamic-partition writer requires rows sorted by partition
        // expressions — pre-sorting with doc_id as a tiebreaker satisfies
        // that requirement (no second sort) AND keeps each file's doc range
        // narrow for stats pruning.
        val stamped = Partitioning.withPartitionCols(df, spec)
        val sortCols = (partitionCols ++
          (if (df.columns.contains("doc_id")) Seq("doc_id") else Seq.empty)).map(col)
        writeStaged(stamped.sortWithinPartitions(sortCols: _*), stagingDir, partitionCols)
          .map(f => f.copy(partition = Partitioning.partitionFromPath(f.path)))
      }
    staged.map(_.copy(schemaId = Some(meta.schemaIdNow)))
  }

  /** Every staged data and delete-key file is written here, with the
    * table's writer options and stats folded as it is written. */
  private def writeStaged(
      df: DataFrame, dir: Path, partitionCols: Seq[String] = Seq.empty): Seq[DataFileMeta] =
    StatsParquetFormat.write(df, dir, partitionCols, parquetWriteOptions, fs, root)

  /** Parquet writer options of every file the table writes, data and delete
    * keys alike. zstd by default (optimization-guide §6: smaller than snappy
    * at similar read speed — and for token-array tables MUCH smaller, so
    * every later scan/compact/merge reads and writes a fraction of the
    * bytes). Level 1: the write path is encode-bound and level 3 costs ~40%
    * more wall for a marginal size delta on these files (measured in
    * OPTIMIZATION_r07.md). Both overridable per table via the
    * write.parquet.codec / write.parquet.zstd-level properties. */
  private def parquetWriteOptions: Map[String, String] = Map(
    "compression" -> meta.properties.getOrElse("write.parquet.codec", "zstd"),
    "parquet.compression.codec.zstd.level" -> meta.properties.getOrElse("write.parquet.zstd-level", "1"))

  /** Stage equality-delete key files (merge-on-read): the distinct doc_id
    * keys land as parquet under data/deletes/<jobId>. Returns entries with
    * per-file doc ranges for scan-time pruning; NO snapshot is committed —
    * callers pass the entries to commit(addDeletes = …). Cost is
    * O(deleted keys), never O(table): the whole point of the MoR path. */
  def stageDeleteKeys(keys: DataFrame, jobId: String): Seq[DataFileMeta] =
    writeStaged(keys.select(col("doc_id").cast("string")).distinct(),
      new Path(dataDir, s"deletes/$jobId"))

  /** Write one manifest file and return its list entry. */
  def writeManifest(files: Seq[DataFileMeta]): ManifestMeta = {
    val name = s"manifest-${UUID.randomUUID()}.json"
    writeString(fs, new Path(metadataDir, name), TableJson.write(files))
    ManifestMeta(name, files.size, files.map(_.records).sum, files.map(_.bytes).sum,
      minDocId = files.map(_.minDocId).minOption,
      maxDocId = files.map(_.maxDocId).maxOption)
  }

  /** The commit's carry-forward step over each of `manifests`, on the
    * driver's cores: read it, drop the `drop` entries, write the
    * replacement when changed. Returns, per manifest, (carried or
    * replacement manifest, None when emptied; `drop` paths it held). */
  private def carryForward(
      manifests: Seq[ManifestMeta], drop: Set[String]): Seq[(Option[ManifestMeta], Set[String])] =
    TokenTable.onDriverCores(manifests) { m =>
      val entries = entriesIn(m)
      val kept = entries.filterNot(e => drop.contains(e.path))
      val out =
        if (kept.size == entries.size) Some(m) // untouched: carry forward
        else if (kept.isEmpty) None
        else Some(writeManifest(kept))
      (out, entries.iterator.map(_.path).filter(drop.contains).toSet)
    }

  /**
   * Atomically commit a new snapshot replacing `replaced` files with `added`
   * files (either may be empty). Manifests are carried forward WITHOUT being
   * read when they provably cannot contain a replaced file: always when
   * `replaced` is empty (appends parse zero manifests), and — given
   * `replacedRange`, the doc_id hull of the replaced files — whenever the
   * manifest-list range misses it (any manifest holding file f spans f's
   * range, so a non-intersecting manifest cannot hold a replaced file, and a
   * replaced file found in no intersecting manifest is provably no longer
   * live). Touched manifests are rewritten minus the replaced entries
   * (nodestream analogue: the debounced bulk MERGE flush, reference
   * nodestream/databases/debounced_ingest_strategy.py:49-82).
   */
  def commit(
      operation: String,
      added: Seq[DataFileMeta],
      replaced: Set[String] = Set.empty,
      summary: Map[String, String] = Map.empty,
      replacedRange: Option[(String, String)] = None,
      addDeletes: Seq[DataFileMeta] = Seq.empty,
      dropDeletePaths: Set[String] = Set.empty,
      // Write-audit-publish: commit onto a named branch instead of the main
      // line — the branch head is the parent, the main current snapshot is
      // untouched, readers see nothing until fastForward() publishes.
      branch: Option[String] = None,
      // Delete-set validation for REWRITE commits: the equality-delete file
      // paths the planner read its victims through. A rewrite restamps rows
      // at the new snapshot's sequence, so an equality delete committed
      // AFTER planning would no longer apply to them — without this check a
      // compact/merge racing a merge-on-read writer silently RESURRECTS
      // deleted rows and un-does updates. If the parent carries any delete
      // file the planner did not read, the commit aborts with
      // CommitConflictException and the caller replans (Iceberg's
      // validateNoNewDeleteFiles).
      readDeletePaths: Option[Set[String]] = None,
      // Declared clustering to record IN THE SAME metadata write as the
      // snapshot (a separate setSortOrder commit could be lost to a crash
      // between the two, leaving a clustered table with no declared order).
      declareSortOrder: Option[Seq[String]] = None): Snapshot =
    newestSnapshot(updateMeta { base =>
      branch.foreach { b =>
        base.refMap.get(b).foreach(r => require(r.kind == "branch",
          s"ref '$b' is a ${r.kind}, not a branch — tags are immutable"))
      }
      val parent = branch.flatMap(b => base.refMap.get(b)) match {
        case Some(r) =>
          // the ref target MUST resolve — silently re-parenting at main
          // would drop the branch's staged commits from its lineage
          Some(base.snapshot(r.snapshotId).getOrElse(sys.error(
            s"branch '${branch.get}' points at missing snapshot ${r.snapshotId}")))
        case None => base.currentSnapshot
      }
      for (readPaths <- readDeletePaths if replaced.nonEmpty) {
        val parentDeletes = parent.toSeq.flatMap(_.deletes).map(_.path).toSet
        val unseen = parentDeletes -- readPaths
        if (unseen.nonEmpty)
          throw new CommitConflictException(
            "equality-delete files committed since this rewrite was planned " +
              s"(${unseen.take(3).mkString(", ")}) — committing would restamp " +
              "rows past the deletes and resurrect them; replan")
      }
      val snapId = base.snapshots.map(_.snapshotId).foldLeft(0L)(math.max) + 1
      def mustRead(m: ManifestMeta): Boolean =
        replaced.nonEmpty && replacedRange.forall { case (lo, hi) => m.mayIntersect(lo, hi) }
      // Validation happens inline with the carry-forward pass: every replaced
      // file must still be live in some read manifest (otherwise a concurrent
      // maintenance already rewrote it — abort, caller replans). Manifests
      // that must be read are rewritten on the driver, one per core at a
      // time (a 100-manifest, 50k-entry rewrite is a parse-bound wall on
      // one thread). Manifest order is not semantic (entries are a set;
      // planning reads all), so carry-unread + rewritten concatenation is
      // safe.
      val (toCarry, toRead) = parent.map(_.manifests.partition(m => !mustRead(m)))
        .getOrElse((Seq.empty[ManifestMeta], Seq.empty[ManifestMeta]))
      val processed = carryForward(toRead, replaced)
      val carried: Seq[ManifestMeta] = toCarry ++ processed.flatMap(_._1)
      val found: Set[String] = processed.iterator.flatMap(_._2).toSet
      val missing = replaced -- found
      if (missing.nonEmpty)
        throw new CommitConflictException(
          s"files no longer live (concurrently rewritten): ${missing.take(5).mkString(", ")}")
      // Data files are stamped with the committing snapshot's id as their
      // sequence number (merge-on-read delete applicability; TableMeta).
      val stamped = added.map(_.copy(addedSeq = Some(snapId)))
      val newManifests = if (added.nonEmpty) carried :+ writeManifest(stamped) else carried
      // Delete manifests: carry the parent's forward (minus dropped key
      // files; none is read when nothing is dropped), append a manifest for
      // newly-staged delete keys.
      val deleteManifests = parent.toSeq.flatMap(_.deletes)
      val carriedDeletes =
        if (dropDeletePaths.isEmpty) deleteManifests
        else carryForward(deleteManifests, dropDeletePaths).flatMap(_._1)
      val newDeletes = carriedDeletes ++
        (if (addDeletes.nonEmpty)
          Seq(writeManifest(addDeletes.map(_.copy(addedSeq = Some(snapId)))))
        else Seq.empty)
      val snap = Snapshot(
        snapshotId = snapId,
        parentId = parent.map(_.snapshotId),
        timestampMs = Clock.nowMs(),
        operation = operation,
        manifests = newManifests,
        summary = summary ++ Map(
          "added-files" -> added.size.toString,
          "removed-files" -> replaced.size.toString,
          "added-records" -> added.map(_.records).sum.toString),
        deleteManifests = if (newDeletes.nonEmpty) Some(newDeletes) else None)
      val next0 = branch match {
        case None => base.withSnapshot(snap)
        case Some(b) => base.copy(
          snapshots = base.snapshots :+ snap,
          refs = Some(base.refMap + (b -> SnapshotRef(snap.snapshotId, "branch"))))
      }
      declareSortOrder.fold(next0)(so => next0.copy(sortOrder = so))
    })

  /** Metadata-only commit of an explicit manifest regrouping over the exact
    * current live file set (manifest rewrite). No data files change. */
  def commitManifestGroups(operation: String, groups: Seq[Seq[DataFileMeta]]): Snapshot =
    newestSnapshot(updateMeta { base =>
      val parent = base.currentSnapshot.getOrElse(sys.error("no snapshot"))
      val currentLive = manifestEntries(parent).map(_.path).toSet
      val proposed = groups.flatten.map(_.path).toSet
      if (currentLive != proposed)
        throw new CommitConflictException("live set changed during manifest rewrite")
      val manifests = groups.filter(_.nonEmpty).map(writeManifest)
      val snap = Snapshot(
        snapshotId = base.snapshots.map(_.snapshotId).foldLeft(0L)(math.max) + 1,
        parentId = Some(parent.snapshotId),
        timestampMs = Clock.nowMs(),
        operation = operation,
        manifests = manifests,
        summary = Map("manifests" -> manifests.size.toString),
        deleteManifests = parent.deleteManifests)
      base.withSnapshot(snap)
    })

  /** The snapshot an [[updateMeta]] of a new snapshot added: its id is one past
    * every id of the base it was built on, so it is the newest id. */
  private def newestSnapshot(m: TableMetadata): Snapshot = m.snapshots.maxBy(_.snapshotId)

  /**
   * The optimistic commit loop every metadata write runs through: load the
   * base together with its version file, build the next metadata from it,
   * publish at exactly base version + 1 (see [[loadVersioned]]). A lost race
   * reloads and rebuilds from the new base; the fifth lost race raises
   * [[CommitConflictException]]. The winner adopts the committed metadata
   * (see [[tryCommitVersion]]) and returns it. `build` may itself throw a
   * conflict (a stale plan) — that aborts the loop at once.
   */
  private def updateMeta(build: TableMetadata => TableMetadata): TableMetadata = {
    var lost = 0
    while (lost < 5) {
      val (base, baseVersion) = refreshVersioned()
      // interleaving point for the stale-base regression tests: a commit
      // injected HERE must force this one to lose its pinned version slot
      // and rebuild — never to publish the stale base over the interleaved
      // snapshot at the next slot
      graft.maintenance.Failpoints.hitCallback("table.commit.after-base")
      tryCommitVersion(baseVersion + 1, build(base)).foreach { committed =>
        meta = committed
        return committed
      }
      lost += 1
    }
    throw new CommitConflictException(s"lost the commit race $lost times at $root")
  }

  /** Returns the committed metadata (manifest lists spilled and stamped) on
    * a won race, None on a lost one. The winner MUST adopt the returned
    * value as its in-memory state — it carries the list-file refs that keep
    * later commits from re-spilling identical lists under fresh names. */
  private def tryCommitVersion(version: Int, m: TableMetadata): Option[TableMetadata] = {
    val (inMem, onDisk) = dehydrate(m)
    val tmp = new Path(metadataDir, s".tmp-${UUID.randomUUID()}.json")
    writeString(fs, tmp, TableJson.write(onDisk))
    val dst = new Path(metadataDir, s"v$version.json")
    // first committer of v<N> wins, atomically (see firstWinsPublish — the
    // old exists+rename pair was a lost-update TOCTOU on local filesystems,
    // whose rename CLOBBERS an existing destination).
    val won = TokenTable.firstWinsPublish(fs, tmp, dst)
    if (won) {
      // hint update via tmp+rename, NOT truncate-in-place: a concurrent
      // reader of a truncated hint sees an empty file (EOF noise under racing
      // writers); a missing hint during the swap just falls back to the
      // version scan — the hint is advisory either way
      val hint = new Path(metadataDir, "version-hint.text")
      val hintTmp = new Path(metadataDir, s".hint-${UUID.randomUUID()}.tmp")
      writeString(fs, hintTmp, version.toString)
      if (fs.exists(hint)) fs.delete(hint, false)
      if (!fs.rename(hintTmp, hint)) fs.delete(hintTmp, false) // lost hint race: advisory
    }
    if (won) Some(inMem) else None
  }

  // ------------------------------------------------------------ maintenance

  /**
   * Drop expired snapshots from the metadata (keeping the current one and
   * the `retainLast` most recent, plus anything newer than `olderThanMs`).
   * Metadata-only; data files become orphans collected by [[removeOrphans]].
   * Nodestream analogue: TTL deletes (reference nodestream/model/ttl.py:11-29)
   * applied to table history instead of graph objects.
   */
  // -------------------------------------------------- refs / WAP / rollback

  /** Create or move a named ref. Tags pin a published state for long-running
    * readers (a training job reads `prod` however much maintenance commits
    * after it); branches are movable write-audit-publish heads. */
  def setRef(name: String, snapshotId: Long, kind: String = "tag"): TableMetadata =
    updateMeta { base =>
      require(base.snapshot(snapshotId).nonEmpty, s"unknown snapshot $snapshotId")
      base.copy(refs = Some(base.refMap + (name -> SnapshotRef(snapshotId, kind))))
    }

  def removeRef(name: String): TableMetadata =
    updateMeta(base => base.copy(refs = Some(base.refMap - name)))

  def refSnapshotId(name: String): Long =
    refresh().refMap.getOrElse(name,
      throw new NoSuchElementException(s"no ref named '$name'")).snapshotId

  /** Scan pinned to a named ref (tag or branch head). */
  def scanRef(spark: SparkSession, name: String): DataFrame =
    scan(spark, snapshotId = Some(refSnapshotId(name)))

  /** Publish a branch: fast-forward the main line to the branch head. The
    * current snapshot must be an ancestor of the head (no silent overwrite
    * of main-line commits the branch never saw — the WAP contract). */
  def fastForward(branch: String): TableMetadata =
    updateMeta { base =>
      val head = base.refMap.getOrElse(branch,
        throw new NoSuchElementException(s"no ref named '$branch'"))
      val curId = base.currentSnapshotId
      require(curId.isEmpty || base.lineage(head.snapshotId).exists(s => curId.contains(s.snapshotId)),
        s"cannot fast-forward: current snapshot $curId is not an ancestor of '$branch'")
      base.copy(currentSnapshotId = Some(head.snapshotId))
    }

  /** Roll the main line back to an earlier snapshot (metadata-only; the
    * abandoned snapshots stay in the log until expireSnapshots). The target
    * must be an ANCESTOR of the current main-line snapshot — the same
    * parent-chain walk [[fastForward]] uses. A snapshot reachable only via a
    * branch ref is rejected: "rolling back" onto it would silently publish
    * unaudited branch commits, bypassing the write-audit-publish ancestry
    * contract. */
  def rollbackTo(snapshotId: Long): TableMetadata =
    updateMeta { base =>
      require(base.snapshot(snapshotId).nonEmpty, s"unknown snapshot $snapshotId")
      require(base.currentSnapshotId.exists(base.lineage(_).exists(_.snapshotId == snapshotId)),
        s"snapshot $snapshotId is not an ancestor of the current main line — " +
          "rollback cannot publish branch-only commits (publish via fastForward)")
      base.copy(currentSnapshotId = Some(snapshotId))
    }

  /** Declare or change the partition spec (metadata-only, Iceberg-style
    * spec evolution): existing files keep the tuples they were written
    * under; new writes align to the new spec. Pruning is per-FILE-tuple, so
    * mixed generations coexist safely — a file without a current-spec tuple
    * key simply isn't partition-prunable and falls back to its stats ranges
    * (conservative, never wrong). A later compaction rewrites old files
    * through the aligned writer, migrating them to the new spec. */
  def evolvePartitionSpec(spec: Seq[PartitionField]): TableMetadata =
    updateMeta { base =>
      val fields = DataType.fromJson(base.schemaJson).asInstanceOf[StructType].fieldNames
      spec.foreach(f => require(fields.contains(f.column),
        s"partition field references unknown column '${f.column}'"))
      base.copy(partitionSpec = if (spec.isEmpty) None else Some(spec))
    }

  /** Add/overwrite table properties (metadata-only commit) — thresholds,
    * checkpoint signing keys, retention knobs. */
  def updateProperties(props: Map[String, String]): TableMetadata =
    updateMeta(base => base.copy(properties = base.properties ++ props))

  /** Record the table's declared clustering as expression strings (e.g.
    * "zorder(doc_id,n_tok)") — set by Maintenance.cluster after a
    * re-cluster commit; surfaced by the describe printers. */
  def setSortOrder(entries: Seq[String]): TableMetadata =
    updateMeta(_.copy(sortOrder = entries))

  def expireSnapshots(retainLast: Int = 1, olderThanMs: Option[Long] = None): TableMetadata =
    updateMeta { base =>
      val byRecency = base.snapshots.sortBy(-_.timestampMs)
      val keepIds: Set[Long] =
        (byRecency.take(math.max(retainLast, 1)).map(_.snapshotId) ++
          base.currentSnapshotId.toSeq ++
          // ref targets are pinned reader states — expiring them would break
          // every job reading through the ref. A BRANCH additionally keeps
          // its ancestor chain: fastForward proves publishability by walking
          // parent ids, and an expired intermediate would orphan the branch.
          base.refMap.values.map(_.snapshotId) ++
          base.refMap.values.filter(_.kind == "branch")
            .flatMap(r => base.lineage(r.snapshotId).map(_.snapshotId)) ++
          olderThanMs.map(cut => base.snapshots.filter(_.timestampMs >= cut).map(_.snapshotId))
            .getOrElse(Seq.empty)).toSet
      base.copy(snapshots = base.snapshots.filter(s => keepIds.contains(s.snapshotId)))
    }

  /** Reachability GC: delete data files and manifests not referenced by any
    * retained snapshot, plus work-unit ledgers abandoned by crashed runs.
    * Returns deleted relative paths. Never deletes a file reachable from a
    * retained snapshot (ScalaCheck-tested invariant).
    *
    * Every part of the pass derives from one refreshed metadata value: the
    * distinct manifests of the retained snapshots, their manifest lists,
    * and the table's ledgers ([[Ledger.onDisk]]). Everything under a
    * resumable ledger's staging prefix counts as reachable — a resume reuses
    * its recorded files unchecked, and [[Ledger.record]] keeps them there —
    * so no ledger unit is read.
    *
    * The pass runs on the driver and starts no Spark job: manifests are
    * parsed and dead files deleted on the driver's cores, and data/ is
    * listed by one NIO walk on the local file system.
    *
    * By default the table's grace window applies ([[gcGraceMs]]): an
    * in-flight writer stages output under `data/<jobId>` and externalizes
    * its `snap-*` manifest list BEFORE its version-file commit lands, so
    * only files older than the window are candidates (Iceberg's
    * remove-orphans `olderThan`, same reason, same default). Callers that
    * OWN the table exclusively (single-threaded maintenance gates, tests)
    * may pass `graceMs = 0`. */
  def removeOrphans(graceMs: Long = gcGraceMs): Seq[String] = {
    val m = refresh()
    val ledgers = Ledger.onDisk(this, m)
    val cutoff = System.currentTimeMillis() - graceMs
    // Delete key files live under data/ and their manifests under metadata/:
    // both are reachable exactly like data files, or GC would corrupt every
    // snapshot that still needs a pending delete applied.
    val deadData = orphanData(m, ledgers, delete = true, cutoff)
    val reachableManifests: Set[String] =
      gcManifests(m).map(_.path).toSet ++ m.snapshots.flatMap(_.manifestList)
    // Crash leftovers of the commit protocol go too: an unpublished version
    // file, an unrenamed version hint and an abandoned slot claim — a claim
    // is held for milliseconds, so one past the grace window is dead and
    // would block its version slot forever (see firstWinsPublish).
    val crashLeftover = """\.tmp-.*\.json|\.hint-.*\.tmp|\.v\d+\.json\.claim""".r
    val deadMeta = fs.listStatus(metadataDir).toSeq
      .filter(_.getModificationTime < cutoff)
      .map(_.getPath.getName)
      .filter(n => crashLeftover.matches(n) ||
        (n.startsWith("manifest-") || n.startsWith("snap-")) && !reachableManifests.contains(n))
    deadMeta.foreach(n => fs.delete(new Path(metadataDir, n), false))
    deadData ++ deadMeta ++ Ledger.sweepStale(this, ledgers.stale, cutoff)
  }

  /** GC grace window in ms (`gc.grace-period-ms`, default 3 days, Iceberg's
    * remove-orphans default): no file younger than this is ever GC'd, so an
    * in-flight writer or a stale crash-resume ledger survives a concurrent GC
    * if it commits (or the crash is resumed) within the window. */
  def gcGraceMs: Long =
    meta.properties.get("gc.grace-period-ms").map(_.toLong)
      .getOrElse(3L * 24 * 3600 * 1000)

  /** Files present in data/ but unreachable from any retained snapshot and
    * older than the grace window. */
  def orphanFiles(graceMs: Long = gcGraceMs): Seq[String] = {
    val m = refresh()
    orphanData(m, Ledger.onDisk(this, m), delete = false, System.currentTimeMillis() - graceMs)
  }

  /** The data and delete manifests of `m`'s retained snapshots, each once:
    * carried-forward manifests appear in many snapshots. */
  private def gcManifests(m: TableMetadata): Seq[ManifestMeta] =
    m.snapshots.flatMap(s => s.manifests ++ s.deletes).distinctBy(_.path)

  /** Orphaned data-file paths, deleted where computed when `delete`. The
    * `cutoff` filters the LISTED side (candidates), never the reachable one. */
  private def orphanData(
      m: TableMetadata, ledgers: Ledger.OnDisk, delete: Boolean, cutoff: Long): Seq[String] = {
    val reachable = TokenTable.onDriverCores(gcManifests(m))(entriesIn)
      .iterator.flatMap(_.map(_.path)).toSet
    val prefixes = ledgers.resumable.map(Ledger.stagingPrefix)
    val dead = listDataFiles(cutoff).filterNot(p =>
      reachable.contains(p) || prefixes.exists(p.startsWith))
    if (delete) TokenTable.onDriverCores(dead)(deleteDataFile)
    dead
  }

  /** Data and delete-key files under data/ last modified before `cutoff`. */
  def listDataFiles(cutoff: Long = Long.MaxValue): Seq[String] = {
    if (!fs.exists(dataDir)) return Seq.empty
    TokenTable.listParquetFast(fs, dataDir).collect {
      case (p, _, mtime) if mtime < cutoff => relativize(root, p)
    }
  }

  def deleteDataFile(rel: String): Unit = fs.delete(new Path(root, rel), false)
}

object TokenTable {

  /** Highest metadata format version this build reads/writes. 1 = inline
    * per-snapshot manifest lists; 2 = lists spilled to snap-* files with a
    * `manifestList` ref. A table is stamped 2 by the first commit that
    * spills a list; older metadata stays at its written version. */
  val CurrentFormatVersion = 2

  /** The engine's canonical sequence schema (BASELINE.json input_hint). */
  val sequenceSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  def create(
      spark: SparkSession, rootStr: String,
      properties: Map[String, String] = Map.empty,
      partitionSpec: Seq[PartitionField] = Seq.empty): TokenTable = {
    val root = new Path(rootStr)
    val fs = LocalFileBinding.fileSystem(spark, root)
    val metaDir = new Path(root, "metadata")
    require(!fs.exists(new Path(metaDir, "v0.json")), s"table already exists at $rootStr")
    partitionSpec.foreach(f => require(sequenceSchema.fieldNames.contains(f.column),
      s"partition field references unknown column '${f.column}'"))
    fs.mkdirs(metaDir)
    fs.mkdirs(new Path(root, "data"))
    val m = TableMetadata(
      formatVersion = 1,
      tableUuid = UUID.randomUUID().toString,
      schemaJson = sequenceSchema.json,
      sortOrder = Seq.empty,
      currentSnapshotId = None,
      snapshots = Seq.empty,
      properties = properties,
      partitionSpec = if (partitionSpec.isEmpty) None else Some(partitionSpec))
    val tmp = new Path(metaDir, s".tmp-${UUID.randomUUID()}.json")
    writeString(fs, tmp, TableJson.write(m))
    require(firstWinsPublish(fs, tmp, new Path(metaDir, "v0.json")),
      s"concurrent create at $rootStr")
    writeString(fs, new Path(metaDir, "version-hint.text"), "0", overwrite = true)
    new TokenTable(root, fs)
  }

  def load(spark: SparkSession, rootStr: String): TokenTable = {
    val root = new Path(rootStr)
    val fs = LocalFileBinding.fileSystem(spark, root)
    new TokenTable(root, fs)
  }

  def exists(spark: SparkSession, rootStr: String): Boolean = {
    val root = new Path(rootStr)
    val fs = LocalFileBinding.fileSystem(spark, root)
    fs.exists(new Path(root, "metadata/v0.json"))
  }

  /** `f` over `xs` on the driver's cores (the common fork-join pool), in
    * `xs`' order. Metadata steps (a manifest's read and rewrite, a file's
    * delete) are independent I/O plus parsing, so a commit or GC over many
    * manifests runs them side by side and starts no Spark job. */
  private def onDriverCores[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    xs.par.map(f).seq
  }

  /** doc_id hull of a file set — the `replacedRange` hint for [[TokenTable.commit]]. */
  def docRange(files: Seq[DataFileMeta]): Option[(String, String)] =
    if (files.isEmpty) None
    else Some((files.map(_.minDocId).min, files.map(_.maxDocId).max))

  /** `dt` with every field, element and value nullable, as a file scan reads it. */
  private def relax(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(relax(e), containsNull = true)
    case MapType(k, v, _) => MapType(relax(k), relax(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = relax(f.dataType), nullable = true)))
    case other => other
  }

  /** Files of one schema version as read in the current schema (see
    * [[TokenTable.versionRead]]): `physical` is the schema they were written
    * in, `columns` one named expression per current field over its columns,
    * `docIdColumn` the physical name of `doc_id`. */
  private final case class VersionRead(
      physical: StructType, columns: Seq[NamedExpression], docIdColumn: String)

  /** The SQL confs Spark's parquet reader takes from its Hadoop conf rather
    * than from a session (`ParquetFileFormat` sets them for its tasks; a
    * missing one fails the read). The driver read copies each from the
    * caller's session conf. */
  private val parquetReadConfs = Seq(
    SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED, SQLConf.CASE_SENSITIVE,
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.PARQUET_REBASE_MODE_IN_READ, SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ,
    SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE
  ).map(_.key)

  /** Whether equality-delete file `d` can hide rows of data file `f`: it was
    * committed later (higher sequence) and its doc range meets `f`'s. */
  def deleteApplies(d: DataFileMeta, f: DataFileMeta): Boolean =
    d.seqOr0 > f.seqOr0 && d.maxDocId >= f.minDocId && d.minDocId <= f.maxDocId

  /** Whether `f`, staged by [[TokenTable.stageWrite]] with `splitBy =
    * Some(column)`, holds the rows whose `column` was true. */
  def stagedUnder(f: DataFileMeta, column: String): Boolean =
    f.path.contains(s"/$column=true/")

  /** The sequence `seqs` maps `path` to; a path with no entry raises an
    * error instead of yielding null (a null sequence would make the delete
    * condition null and keep a deleted row). */
  private[graft] def sequenceOf(seqs: Map[String, Long], path: org.apache.spark.sql.Column) =
    coalesce(typedLit(seqs).apply(path),
      raise_error(concat(lit("no commit sequence for scanned file "), path)))

  /** First-committer-wins publish of `tmp` at `dst` (both sides of a
    * version-file commit race call this; exactly one must win). On local
    * filesystems Hadoop's rename delegates to java.io renameTo — POSIX
    * rename(2), which CLOBBERS an existing destination — so the naive
    * `!exists(dst) && rename(tmp, dst)` is a check-then-act race: two
    * committers can both observe no dst, both rename, and the second
    * silently overwrites the first — a lost commit (observed as a vanished
    * merge snapshot under concurrent writers). link(2) is the atomic
    * no-clobber primitive there: createLink fails with
    * FileAlreadyExistsException iff dst exists, atomically. A local mount
    * without hard links (some CIFS, FAT and NFS setups) fails the link with
    * another error; the slot is then claimed by an O_EXCL create of a
    * `.<dst>.claim` file, so only one publisher at a time gets to check that
    * dst is free and rename into it, and the claim is dropped once dst
    * exists (a publisher that dies holding a claim leaves that version slot
    * blocked until [[removeOrphans]] sweeps the claim past the grace
    * window). Non-local filesystems keep
    * exists+rename — HDFS rename refuses to clobber (returns false) and
    * object-store renames are copy+delete with their own semantics. `tmp`
    * is always cleaned up, win or lose. */
  private[table] def firstWinsPublish(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    try {
      if (fs.getScheme == "file") {
        import java.nio.file.{FileAlreadyExistsException, Files, Paths}
        val t = Paths.get(tmp.toUri.getPath)
        val d = Paths.get(dst.toUri.getPath)
        try {
          graft.maintenance.Failpoints.hitCallback("table.publish.link")
          Files.createLink(d, t)
          // carry the checksum sidecar (ChecksumFileSystem ".<name>.crc") so
          // the published file stays verified; best-effort — a missing crc
          // only disables verification for this one file
          try {
            val tc = t.resolveSibling("." + t.getFileName + ".crc")
            val dc = d.resolveSibling("." + d.getFileName + ".crc")
            if (Files.exists(tc)) Files.createLink(dc, tc)
          } catch { case _: Throwable => () }
          true
        } catch {
          case _: FileAlreadyExistsException => false
          case _: java.io.IOException | _: UnsupportedOperationException =>
            val claim = d.resolveSibling("." + d.getFileName + ".claim")
            try Files.createFile(claim)
            catch { case _: FileAlreadyExistsException => return false }
            try !fs.exists(dst) && fs.rename(tmp, dst)
            finally Files.deleteIfExists(claim)
        }
      } else !fs.exists(dst) && fs.rename(tmp, dst)
    } finally fs.delete(tmp, false) // unlinks tmp's name (+its crc); a linked dst survives

  /** Recursive `.parquet` listing of a directory tree. Hadoop's
    * LocalFileSystem pays a per-file `ls -ld` exec to populate the
    * LocatedFileStatus permissions that listFiles(recursive) returns
    * (~4 ms/file without native libs — 0.7 s per 80-file partitioned
    * commit); java.nio walks without it. Non-local filesystems keep
    * listFiles(recursive), their efficient paged-LIST call. Returns
    * (path, length, mtimeMillis). */
  private[table] def listParquetFast(fs: FileSystem, dir: Path): Seq[(Path, Long, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Path, Long, Long)]()
    if (fs.getScheme == "file") {
      import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Paths, SimpleFileVisitor}
      import java.nio.file.attribute.BasicFileAttributes
      // A file or directory deleted mid-walk (a writer retiring replaced
      // files while an orphan scan lists data/) is skipped, not fatal; a
      // missing `dir` lists as empty.
      def skipVanished(e: java.io.IOException): FileVisitResult = e match {
        case null | _: NoSuchFileException => FileVisitResult.CONTINUE
        case other => throw other
      }
      Files.walkFileTree(Paths.get(dir.toUri.getPath), new SimpleFileVisitor[java.nio.file.Path] {
        override def visitFile(q: java.nio.file.Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile && q.getFileName.toString.endsWith(".parquet"))
            buf += ((new Path(q.toUri), a.size, a.lastModifiedTime.toMillis))
          graft.maintenance.Failpoints.hitCallback("table.list.after-file")
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(q: java.nio.file.Path, e: java.io.IOException): FileVisitResult =
          skipVanished(e)
        override def postVisitDirectory(q: java.nio.file.Path, e: java.io.IOException): FileVisitResult =
          skipVanished(e)
      })
    } else {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          buf += ((st.getPath, st.getLen, st.getModificationTime))
      }
    }
    buf.toSeq
  }

  private[table] def relativize(root: Path, p: Path): String = {
    val rootStr = Path.getPathWithoutSchemeAndAuthority(root).toString
    val pStr = Path.getPathWithoutSchemeAndAuthority(p).toString
    require(pStr.startsWith(rootStr), s"$p not under $root")
    pStr.stripPrefix(rootStr).stripPrefix("/")
  }

  private[graft] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private[graft] def writeString(fs: FileSystem, p: Path, s: String, overwrite: Boolean = false): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
