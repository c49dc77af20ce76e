package graft.table

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  def manifestEntries(s: Snapshot): Seq[DataFileMeta] =
    s.manifests.flatMap(m => TableJson.readManifest(readString(fs, new Path(metadataDir, m.path))))

  /** All live data files of a snapshot (paths relative to table root). */
  def liveFiles(snapshotId: Option[Long] = None): Seq[DataFileMeta] = {
    val snap = snapshotId match {
      case Some(id) => meta.snapshot(id).getOrElse(sys.error(s"unknown snapshot $id"))
      case None     => meta.currentSnapshot.getOrElse(sys.error("table has no snapshot"))
    }
    manifestEntries(snap)
  }

  // ---- snapshot-consistent planning views -------------------------------
  // A maintenance planner must derive EVERY view it plans from (live files,
  // pending delete paths, delete entries, spec, current snapshot id) from ONE
  // immutable TableMetadata value. Two separate reads of the volatile `meta`
  // open a race: a merge-on-read commit landing between them makes the
  // planned delete-path set include the new delete while the victim set
  // predates its appended file — commit validation then passes and the
  // rewrite commits a second live copy of the upserted key.

  /** Live data files of `m`'s current snapshot. */
  def liveFiles(m: TableMetadata): Seq[DataFileMeta] =
    manifestEntries(m.currentSnapshot.getOrElse(sys.error("table has no snapshot")))

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
      nTokLo: Option[Int] = None, nTokHi: Option[Int] = None): Seq[DataFileMeta] = {
    val dLo = (docIdLo.toSeq ++ docIdRange.map(_._1)).maxOption
    val dHi = (docIdHi.toSeq ++ docIdRange.map(_._2)).minOption
    val tLo = (nTokLo.toSeq ++ nTokRange.map(_._1)).maxOption
    val tHi = (nTokHi.toSeq ++ nTokRange.map(_._2)).minOption
    // truncate(n_tok, w) partition values allow stats-free exact range
    // pruning: a file whose tuple records truncate value v holds only rows
    // with n_tok in [v, v + w)
    val truncFields = meta.spec.filter(f => f.transform == "truncate" && f.column == "n_tok")
    liveFiles(snapshotId).filter { f =>
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
  def planFilesForKey(docId: String): Seq[DataFileMeta] = {
    val bucketFields = meta.spec.filter(f => f.transform == "bucket" && f.column == "doc_id")
    val docIdType = schema("doc_id").dataType
    liveFiles().filter { f =>
      f.minDocId <= docId && f.maxDocId >= docId &&
      // spec evolution safety: the tuple key carries the bucket count, so a
      // file written under a different n records a different key name,
      // partitionValue is None, and the file is conservatively included
      bucketFields.forall { bf =>
        f.partitionValue(bf.name).forall(_ == Partitioning.transformValue(bf, docId, docIdType))
      }
    }
  }

  /** Point lookup through bucket + range pruning (pending MoR deletes
    * applied like any scan). */
  def lookup(spark: SparkSession, docId: String): DataFrame =
    readFiles(spark, planFilesForKey(docId), deletesOf(None))
      .filter(col("doc_id") === docId)

  /** Delete file paths pending on the current snapshot — capture at
    * planning time (adjacent to the liveFiles() call, same metadata view)
    * and pass to commit(readDeletePaths = …) so a rewrite aborts if new
    * equality deletes landed mid-flight. */
  def currentDeletePaths(): Set[String] =
    meta.currentSnapshot.map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)

  /** Equality-delete key entries pending on a snapshot (merge-on-read). */
  def deleteEntries(s: Snapshot): Seq[DataFileMeta] =
    s.deletes.flatMap(m => TableJson.readManifest(readString(fs, new Path(metadataDir, m.path))))

  private def deletesOf(snapshotId: Option[Long]): Seq[DataFileMeta] = {
    val snap = snapshotId match {
      case Some(id) => meta.snapshot(id)
      case None     => meta.currentSnapshot
    }
    snap.map(deleteEntries).getOrElse(Seq.empty)
  }

  def scan(
      spark: SparkSession,
      snapshotId: Option[Long] = None,
      docIdRange: Option[(String, String)] = None,
      sourceIn: Option[Set[String]] = None,
      nTokRange: Option[(Int, Int)] = None): DataFrame = {
    val files = planFiles(snapshotId, docIdRange, sourceIn, nTokRange)
    readFiles(spark, files, deletesOf(snapshotId))
  }

  /** Read data files, projecting every file into the *current* schema by
    * field-id (rename-safe, like Iceberg): files written under an older
    * schema version keep their physical column names; we resolve each
    * current field to the physical name its id had at write time, or null
    * for columns added since. Single-schema tables take the fast path. */
  def readFiles(spark: SparkSession, files: Seq[DataFileMeta]): DataFrame =
    readFiles(spark, files, deletesOf(None))

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
   */
  def readFiles(
      spark: SparkSession, files: Seq[DataFileMeta],
      deletes: Seq[DataFileMeta]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val (dirty, clean) = files.partition(f => deletes.exists(deleteApplies(_, f)))
    if (dirty.isEmpty) return readSchemaGroups(spark, files, withFilePath = false)
    val keyFiles = deletes.filter(d => dirty.exists(deleteApplies(d, _)))
    val rows = readSchemaGroups(spark, dirty, withFilePath = true)
    val keys = spark.read.schema(StructType(Seq(StructField("doc_id", StringType))))
      .parquet(keyFiles.map(d => new Path(root, d.path).toString): _*)
    val keySeqs = keys.select(col("doc_id").as("_ddoc"),
      sequenceOf(scanPathSequences(keys, keyFiles), col("_metadata.file_path")).as("_dseq"))
    val kept = rows.join(keySeqs,
      col("doc_id") === col("_ddoc") &&
        col("_dseq") > sequenceOf(scanPathSequences(rows, dirty), col("_fpath")),
      "left_anti").drop("_fpath")
    if (clean.isEmpty) kept
    else readSchemaGroups(spark, clean, withFilePath = false).unionByName(kept)
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

  /** Read files in the current schema: one scan per schema version, unioned.
    * `withFilePath` adds `_fpath` (`_metadata.file_path`), taken from each
    * scan before the projection that hides the metadata column. */
  private def readSchemaGroups(
      spark: SparkSession, files: Seq[DataFileMeta], withFilePath: Boolean): DataFrame = {
    val filePath = if (withFilePath) Seq(col("_metadata.file_path").as("_fpath")) else Seq.empty
    val current = meta.schemaVersion(meta.schemaIdNow)
    val currentSchema = schema
    val groups = files.groupBy(_.schemaIdOr0).toSeq.sortBy(_._1)
    val frames = groups.map { case (sid, fs) =>
      val paths = fs.map(f => new Path(root, f.path).toString)
      if (sid == meta.schemaIdNow) {
        val raw = spark.read.schema(currentSchema).parquet(paths: _*)
        if (withFilePath) raw.select(col("*") +: filePath: _*) else raw
      } else {
        val ver = meta.schemaVersion(sid)
        val physSchema = DataType.fromJson(ver.schemaJson).asInstanceOf[StructType]
        val idToPhys: Map[Int, String] = ver.fieldIds.map(_.swap)
        val raw = spark.read.schema(physSchema).parquet(paths: _*)
        raw.select(currentSchema.fields.toSeq.map { f =>
          idToPhys.get(current.fieldIds(f.name)) match {
            case Some(phys) =>
              val physType = physSchema(phys).dataType
              if (physType.sql == f.dataType.sql) col(phys).as(f.name)
              else col(phys).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        } ++ filePath: _*)
      }
    }
    frames.reduce(_.unionByName(_))
  }

  def schema: StructType = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]

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
    * all-identity and cost nothing at runtime. */
  private def conformToSchema(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // nullability is declarative here (writes never enforced it; parquet
    // physical types are what pinned-schema readers check) — compare and
    // cast on nullability-relaxed types throughout
    def relax(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(relax(e), containsNull = true)
      case MapType(k, v, _) => MapType(relax(k), relax(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case other => other
    }
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val unknown = df.columns.filterNot(schema.fieldNames.contains)
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
    val same = df.schema.fields.length == schema.fields.length &&
      df.schema.fields.zip(schema.fields).forall { case (a, b) =>
        a.name == b.name && relax(a.dataType) == relax(b.dataType) }
    if (same) df else df.select(cols.toIndexedSeq: _*)
  }

  /** Stage a DataFrame into data/ under a unique job prefix; returns file metas
    * with freshly computed per-file min/max stats. No snapshot is committed —
    * callers record staged units in the ledger and commit atomically at the end. */
  def stageWrite(dfIn: DataFrame, jobId: String): Seq[DataFileMeta] = {
    val df0 = conformToSchema(dfIn, schema)
    val spark = df0.sparkSession
    val stagingDir = new Path(dataDir, jobId)
    val t0 = System.nanoTime()
    val spec = meta.spec
    // Global stats ride the write as an Observation (same pattern as
    // stageDeleteKeys). Its row count decides emptiness for every write.
    // When the write lands as ONE file — a frame planned into one partition,
    // such as mergeMor's sub-target-size batches or a coalesce(1) rewrite —
    // its file stats ARE the observed values and the footer-stats job below
    // is skipped. Multi-file writes keep the distributed footer pass, whose
    // per-file granularity an aggregate observation cannot provide.
    val obs = new org.apache.spark.sql.Observation(s"graft-stats-${UUID.randomUUID()}")
    val df = df0.observe(obs, count(lit(1)).as("n"),
      min(col("doc_id")).as("dlo"), max(col("doc_id")).as("dhi"),
      min(col("n_tok")).as("tlo"), max(col("n_tok")).as("thi"),
      coalesce(sum(col("n_tok").cast("long")), lit(0L)).as("tsum"),
      min(col("source")).as("slo"), max(col("source")).as("shi"))
    graft.maintenance.Maintenance.debugPlan("stagewrite", df)
    if (spec.isEmpty) df.write.mode("errorifexists").options(parquetWriteOptions)
      .parquet(stagingDir.toString)
    else {
      // Partition-aligned write: derived `_p_*` columns drive partitionBy so
      // every output file holds exactly ONE partition tuple; the original
      // data columns stay in the file (identity values are duplicated into
      // `_p_*`, never moved), so readers are unchanged. The tuple is
      // recovered from the directory path below and recorded per file.
      // sortWithinPartitions(_p.. , doc_id): the dynamic-partition writer
      // requires rows sorted by partition expressions — pre-sorting with
      // doc_id as a tiebreaker satisfies that requirement (no second sort)
      // AND keeps each file's doc range narrow for stats pruning.
      val stamped = Partitioning.withPartitionCols(df, spec)
      val sortCols = spec.map(f => col(Partitioning.partitionColName(f))) ++
        (if (df.columns.contains("doc_id")) Seq(col("doc_id")) else Seq.empty)
      stamped.sortWithinPartitions(sortCols: _*)
        .write.mode("errorifexists").options(parquetWriteOptions)
        .partitionBy(spec.map(Partitioning.partitionColName): _*)
        .parquet(stagingDir.toString)
    }
    val t1 = System.nanoTime()
    val o = obs.get
    val n = o("n").asInstanceOf[Long]
    // Zero rows: Spark still writes one schema-only file for an empty frame.
    // Nothing is staged, so the staging dir goes too instead of lingering
    // as an orphan until removeOrphans.
    if (n == 0L) { fs.delete(stagingDir, true); return Seq.empty }
    val listed = TokenTable.listParquetFast(fs, stagingDir)
    val observedStats: Option[Seq[DataFileMeta]] =
      // several files, or an all-null stats column: the footer/scan path
      if (listed.size != 1 || Seq("dlo", "dhi", "tlo", "thi", "slo", "shi").exists(o(_) == null))
        None
      else {
        val (p, len, _) = listed.head
        val slo = o("slo").asInstanceOf[String]
        val shi = o("shi").asInstanceOf[String]
        Some(Seq(DataFileMeta(
          path = TokenTable.relativize(root, p), records = n, bytes = len,
          minDocId = o("dlo").asInstanceOf[String],
          maxDocId = o("dhi").asInstanceOf[String],
          minNTok = o("tlo").asInstanceOf[Number].intValue,
          maxNTok = o("thi").asInstanceOf[Number].intValue,
          sumNTok = o("tsum").asInstanceOf[Long],
          sources = if (slo == shi) Seq(slo) else Seq.empty,
          minSource = Some(slo), maxSource = Some(shi))))
      }
    val stats = observedStats
      .getOrElse(collectStats(spark, fs, root, stagingDir, schema))
      .map(_.copy(schemaId = Some(meta.schemaIdNow)))
    val stamped =
      if (spec.isEmpty) stats
      else stats.map(f => f.copy(partition = Partitioning.partitionFromPath(f.path)))
    if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
      System.err.println(f"STEP write ${(t1 - t0) / 1e6}%.0fms stats ${(System.nanoTime() - t1) / 1e6}%.0fms" +
        (if (observedStats.nonEmpty) " (observed)" else ""))
    stamped
  }

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
    stageDeleteKeys(keys, jobId, assumeDistinct = false)

  /** `assumeDistinct = true` skips the dedup exchange — only for callers
    * whose key frame is unique by construction (e.g. the output of the
    * merge debounce, a groupBy on doc_id). Duplicate keys staged by a
    * violating caller would still delete correctly (equality-delete
    * semantics), just with redundant key rows. */
  def stageDeleteKeys(
      keys: DataFrame, jobId: String, assumeDistinct: Boolean): Seq[DataFileMeta] = {
    val spark = keys.sparkSession
    val stagingDir = new Path(dataDir, s"deletes/$jobId")
    // Global (count, min, max) ride the write as an Observation — when the
    // write lands as ONE file (a key frame planned into one partition, such
    // as mergeMor's sub-target-size batches) its stats are exactly the
    // observed values and the read-back aggregation job below is skipped.
    val obs = new org.apache.spark.sql.Observation(s"graft-delkeys-$jobId")
    val distinctKeys = {
      val cast = keys.select(col("doc_id").cast("string"))
      if (assumeDistinct) cast else cast.distinct()
    }
    distinctKeys
      .observe(obs, count(lit(1)).as("n"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .write.mode("errorifexists").options(parquetWriteOptions).parquet(stagingDir.toString)
    val observed = obs.get
    // Zero observed keys: Spark still writes one schema-only parquet file
    // for an empty frame — a DataFileMeta built from it would carry NULL
    // min/max doc ids and NPE every later range comparison on the delete
    // entries. No keys means nothing to commit, and nothing to keep.
    if (observed("n").asInstanceOf[Long] == 0L) { fs.delete(stagingDir, true); return Seq.empty }
    val sizes: Map[String, Long] =
      TokenTable.listParquetFast(fs, stagingDir)
        .map { case (p, len, _) => (relativize(root, p), len) }.toMap
    if (sizes.size == 1) {
      val (rel, len) = sizes.head
      return Seq(DataFileMeta(
        path = rel, records = observed("n").asInstanceOf[Long], bytes = len,
        minDocId = observed("lo").asInstanceOf[String],
        maxDocId = observed("hi").asInstanceOf[String],
        minNTok = 0, maxNTok = 0, sumNTok = 0L, sources = Seq.empty))
    }
    // Per-file ranges from one pass over the (small, just-written) key set.
    spark.read.schema(StructType(Seq(StructField("doc_id", StringType))))
      .parquet(stagingDir.toString)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect().toSeq.map { r =>
        val rel = relativize(root, new Path(new java.net.URI(r.getString(0)).getPath))
        DataFileMeta(
          path = rel, records = r.getLong(1), bytes = sizes.getOrElse(rel, 0L),
          minDocId = r.getString(2), maxDocId = r.getString(3),
          minNTok = 0, maxNTok = 0, sumNTok = 0L, sources = Seq.empty)
      }
  }

  def writeManifest(files: Seq[DataFileMeta]): ManifestMeta =
    TokenTable.writeManifestFile(fs, metadataDir, files)

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
      retries: Int = 5,
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
      declareSortOrder: Option[Seq[String]] = None): Snapshot = {
    var attempt = 0
    while (true) {
      val (base, baseVersion) = refreshVersioned()
      // interleaving point for the stale-base regression test: a commit
      // injected HERE must force this one to lose its pinned version slot
      // and replan — never to publish the stale base over the interleaved
      // snapshot at the next slot
      graft.maintenance.Failpoints.hitCallback("table.commit.after-base")
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
      // that must be read are rewritten on the driver when few, or by a
      // Spark job when their combined entry count crosses the distributed
      // threshold — at 10^6+ files per table a single-threaded driver
      // parse/rewrite of every touched manifest is the commit bottleneck
      // (the same wall Iceberg hits and fixes with distributed rewrites).
      // Manifest order is not semantic (entries are a set; planning reads
      // all), so carry-unread + rewritten concatenation is safe.
      val (toCarry, toRead) = parent.map(_.manifests.partition(m => !mustRead(m)))
        .getOrElse((Seq.empty[ManifestMeta], Seq.empty[ManifestMeta]))
      val processed: Seq[(Option[ManifestMeta], Set[String])] =
        if (toRead.isEmpty) Seq.empty
        else {
          val session = org.apache.spark.sql.SparkSession.getActiveSession
          val distributed = session.nonEmpty && toRead.size > 1 &&
            toRead.map(_.addedFiles.toLong).sum >= distributedManifestThreshold
          if (distributed) distributedManifestRewrite(session.get, toRead, replaced)
          else toRead.map(m =>
            TokenTable.rewriteManifestEntries(fs, metadataDir, m, replaced))
        }
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
      // files), append a manifest for newly-staged delete keys.
      val carriedDeletes: Seq[ManifestMeta] = parent.toSeq.flatMap(_.deletes).flatMap { m =>
        if (dropDeletePaths.isEmpty) Some(m)
        else {
          val entries = TableJson.readManifest(readString(fs, new Path(metadataDir, m.path)))
          val kept = entries.filterNot(e => dropDeletePaths.contains(e.path))
          if (kept.size == entries.size) Some(m)
          else if (kept.isEmpty) None
          else Some(writeManifest(kept))
        }
      }
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
      val next = declareSortOrder.fold(next0)(so => next0.copy(sortOrder = so))
      tryCommitVersion(baseVersion + 1, next).foreach { committed =>
        meta = committed
        return committed.snapshot(snap.snapshotId).getOrElse(snap)
      }
      attempt += 1
      if (attempt > retries)
        throw new CommitConflictException(s"lost commit race $retries times at $root")
    }
    sys.error("unreachable")
  }

  /** Metadata-only commit of an explicit manifest regrouping over the exact
    * current live file set (manifest rewrite). No data files change. */
  def commitManifestGroups(operation: String, groups: Seq[Seq[DataFileMeta]]): Snapshot = {
    var attempt = 0
    while (attempt < 5) {
      val (base, baseVersion) = refreshVersioned()
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
      val next = base.withSnapshot(snap)
      tryCommitVersion(baseVersion + 1, next).foreach { committed =>
        meta = committed
        return committed.snapshot(snap.snapshotId).getOrElse(snap)
      }
      attempt += 1
    }
    throw new CommitConflictException(s"manifest rewrite lost commit race at $root")
  }

  /** Combined entry count of touched manifests above which the commit-path
    * manifest rewrite fans out to a Spark job (table property overridable). */
  private def distributedManifestThreshold: Long =
    meta.properties.get("commit.distributed-manifest-threshold").map(_.toLong)
      .getOrElse(10000L)

  /** Rewrite touched manifests in one Spark job: each task reads ONE
    * manifest, drops replaced entries, writes the replacement manifest from
    * the executor, and reports (replacement, replaced-paths-found). The
    * driver never parses an entry; a retried task can leave an orphan
    * manifest file, which [[removeOrphans]] collects like any unreferenced
    * manifest. */
  private def distributedManifestRewrite(
      spark: SparkSession, toRead: Seq[ManifestMeta], replaced: Set[String])
      : Seq[(Option[ManifestMeta], Set[String])] = {
    val sc = spark.sparkContext
    val confBc = sc.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val replacedBc = sc.broadcast(replaced)
    val mdDir = metadataDir.toString
    val slices = math.max(1, math.min(toRead.size, sc.defaultParallelism * 2))
    sc.parallelize(toRead, slices).map { m =>
      val dir = new Path(mdDir)
      TokenTable.rewriteManifestEntries(
        dir.getFileSystem(confBc.value.value), dir, m, replacedBc.value)
    }.collect().toSeq
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
      val ancestors = Iterator.iterate(base.snapshot(head.snapshotId))(
        _.flatMap(_.parentId).flatMap(base.snapshot)).takeWhile(_.nonEmpty).flatten
      val curId = base.currentSnapshotId
      require(curId.isEmpty || ancestors.exists(s => curId.contains(s.snapshotId)),
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
      val ancestors = Iterator.iterate(base.currentSnapshot)(
        _.flatMap(_.parentId).flatMap(base.snapshot)).takeWhile(_.nonEmpty).flatten
      require(ancestors.exists(_.snapshotId == snapshotId),
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

  private def updateMeta(f: TableMetadata => TableMetadata): TableMetadata = {
    var attempt = 0
    while (attempt < 5) {
      val (base, baseVersion) = refreshVersioned()
      val next = f(base)
      tryCommitVersion(baseVersion + 1, next).foreach { committed =>
        meta = committed; return committed
      }
      attempt += 1
    }
    throw new CommitConflictException(s"metadata update lost commit race at $root")
  }

  def expireSnapshots(retainLast: Int = 1, olderThanMs: Option[Long] = None): TableMetadata = {
    var attempt = 0
    while (attempt < 5) {
      val (base, baseVersion) = refreshVersioned()
      val byRecency = base.snapshots.sortBy(-_.timestampMs)
      val keepIds: Set[Long] =
        (byRecency.take(math.max(retainLast, 1)).map(_.snapshotId) ++
          base.currentSnapshotId.toSeq ++
          // ref targets are pinned reader states — expiring them would break
          // every job reading through the ref. A BRANCH additionally keeps
          // its ancestor chain: fastForward proves publishability by walking
          // parent ids, and an expired intermediate would orphan the branch.
          base.refMap.values.map(_.snapshotId) ++
          base.refMap.values.filter(_.kind == "branch").flatMap { r =>
            Iterator.iterate(base.snapshot(r.snapshotId))(
              _.flatMap(_.parentId).flatMap(base.snapshot))
              .takeWhile(_.nonEmpty).flatten.map(_.snapshotId)
          } ++
          olderThanMs.map(cut => base.snapshots.filter(_.timestampMs >= cut).map(_.snapshotId))
            .getOrElse(Seq.empty)).toSet
      val next = base.copy(snapshots = base.snapshots.filter(s => keepIds.contains(s.snapshotId)))
      tryCommitVersion(baseVersion + 1, next).foreach { committed =>
        meta = committed; return committed
      }
      attempt += 1
    }
    throw new CommitConflictException(s"expireSnapshots lost commit race at $root")
  }

  /** Reachability GC: delete data files and manifests not referenced by any
    * retained snapshot, plus work-unit ledgers abandoned by crashed runs.
    * Returns deleted relative paths. Never deletes a file reachable from a
    * retained snapshot (ScalaCheck-tested invariant).
    *
    * Past `gc.distributed-threshold` total manifest entries (default 10k)
    * with an active SparkSession, the heavy parts run as Spark jobs — one
    * task per manifest parses entries, one task per data/ job-prefix
    * directory lists recursively, and orphans are subtracted and deleted in
    * executors. The driver touches only metadata-scale state (manifest
    * NAMES, first-level directory names, and the orphan list itself, which
    * is small relative to the table on any maintained deployment) — at
    * 10^6+ files a single-threaded manifest parse + recursive driver
    * listing is the GC wall, the same one Iceberg's remove-orphans solves
    * with a distributed action.
    *
    * The no-arg form applies the table's grace window ([[gcGraceMs]]):
    * "unreachable from a retained snapshot" is necessary but NOT sufficient
    * for dead — an in-flight writer stages output under `data/<jobId>` and
    * externalizes its `snap-*` manifest list BEFORE its version-file commit
    * lands, and a crashed run's ledger records staged files its resume will
    * reuse verbatim. Deleting any of those mid-flight makes the next commit
    * reference missing files. Only files older than the grace window are
    * candidates (Iceberg's remove-orphans `olderThan`, same reason, same
    * default). Callers that OWN the table exclusively (single-threaded
    * maintenance gates, tests) may pass `graceMs = 0`. */
  def removeOrphans(): Seq[String] = removeOrphans(gcGraceMs)

  def removeOrphans(graceMs: Long): Seq[String] = {
    refresh()
    val cutoff = System.currentTimeMillis() - graceMs
    // Delete key files live under data/ and their manifests under metadata/:
    // both are reachable exactly like data files, or GC would corrupt every
    // snapshot that still needs a pending delete applied.
    val deadData = orphanData(delete = true, cutoff)
    val reachableManifests: Set[String] =
      meta.snapshots.flatMap(s => s.manifests ++ s.deletes).map(_.path).toSet ++
        meta.snapshots.flatMap(_.manifestList)
    val deadManifests = fs.listStatus(metadataDir).toSeq
      .filter(_.getModificationTime < cutoff)
      .map(_.getPath.getName)
      .filter(n => (n.startsWith("manifest-") || n.startsWith("snap-")) &&
        !reachableManifests.contains(n))
    deadManifests.foreach(n => fs.delete(new Path(metadataDir, n), false))
    deadData ++ deadManifests ++ sweepStaleLedgers(cutoff)
  }

  /** GC grace window in ms (`gc.grace-period-ms`, default 3 days — Iceberg's
    * remove-orphans default): no file younger than this is ever GC'd, so
    * in-flight staged writes, not-yet-referenced manifest lists, and
    * crash-resume ledgers survive a concurrent GC as long as the writer
    * commits (or the crash is resumed) within the window. */
  def gcGraceMs: Long =
    meta.properties.get("gc.grace-period-ms").map(_.toLong)
      .getOrElse(3L * 24 * 3600 * 1000)

  /** Files present in data/ but unreachable from any retained snapshot and
    * older than the grace window. */
  def orphanFiles(): Seq[String] = orphanFiles(gcGraceMs)

  def orphanFiles(graceMs: Long): Seq[String] =
    orphanData(delete = false, System.currentTimeMillis() - graceMs)

  /** Total manifest entries above which GC fans out to Spark jobs. */
  private def gcDistributedThreshold: Long =
    meta.properties.get("gc.distributed-threshold").map(_.toLong).getOrElse(10000L)

  /** Orphaned data-file paths (optionally deleting them where computed).
    * Only files whose modification time precedes `cutoff` are candidates —
    * the grace-window filter runs on the LISTED side (candidate deletions),
    * never on the reachable side. Files recorded by a still-resumable
    * ledger ([[ledgerProtectedFiles]]) count as reachable: a resumed run
    * reuses those staged outputs verbatim, so deleting them while
    * [[sweepStaleLedgers]] deliberately keeps the ledger would make the
    * resume commit dangling paths. */
  private def orphanData(delete: Boolean, cutoff: Long): Seq[String] = {
    // distinct by path: carried-forward manifests appear in many snapshots
    val manifestMetas: Seq[ManifestMeta] =
      meta.snapshots.flatMap(s => s.manifests ++ s.deletes)
        .groupBy(_.path).map(_._2.head).toSeq
    val totalEntries = manifestMetas.map(_.addedFiles.toLong).sum
    val (protectedByLedger, protectedPrefixes) = ledgerProtectedFiles()
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    if (session.nonEmpty && totalEntries >= gcDistributedThreshold)
      distributedOrphanData(session.get, manifestMetas.map(_.path), delete, cutoff,
        protectedByLedger, protectedPrefixes)
    else {
      val reachable: Set[String] =
        meta.snapshots.flatMap(manifestEntries).map(_.path).toSet ++
          meta.snapshots.flatMap(deleteEntries).map(_.path) ++ protectedByLedger
      val dead = listDataFiles(cutoff).filterNot(p =>
        reachable.contains(p) || protectedPrefixes.exists(p.startsWith))
      if (delete) dead.foreach(deleteDataFile)
      dead
    }
  }

  /** Data files recorded in ledgers a crashed run can still RESUME (the
    * stepId's embedded snapshot id is not older than the current snapshot).
    * The resume path reuses recorded staged outputs verbatim without an
    * existence check, so GC must treat them as reachable even though no
    * snapshot references them yet — otherwise a post-grace sweep deletes
    * the files while [[sweepStaleLedgers]] keeps the ledger, and the
    * resumed commit references missing parquet. Ledgers with an OLDER
    * embedded id cannot be resumed (a replan gets a fresh stepId) and are
    * swept — files and record — in the same GC pass. Blob signatures are
    * stripped, NOT verified: GC only needs path names, and over-protecting
    * on an unverifiable blob is the conservative failure (the resume path
    * still verifies). A unit that fails to PARSE (truncated blob, crashed
    * mid-write, signature-envelope mismatch) protects conservatively too:
    * the whole `data/<stepId>/` staging prefix of that ledger becomes
    * reachable, because returning nothing would let GC delete staged files
    * while [[sweepStaleLedgers]] keeps the ledger — the exact dangling-path
    * failure this protection exists to prevent. Ledger count is bounded by
    * crashed runs, so this is metadata-scale driver work.
    * Returns (exact protected paths, protected path PREFIXES). */
  private def ledgerProtectedFiles(): (Set[String], Set[String]) = {
    val ledgerDir = new Path(metadataDir, "ledger")
    val cur = meta.currentSnapshotId.getOrElse(return (Set.empty, Set.empty))
    if (!fs.exists(ledgerDir)) return (Set.empty, Set.empty)
    val snapRe = "-snap(\\d+)-".r
    val paths = Set.newBuilder[String]
    val prefixes = Set.newBuilder[String]
    fs.listStatus(ledgerDir).toSeq
      .filter(st => st.isDirectory &&
        snapRe.findFirstMatchIn(st.getPath.getName).exists(_.group(1).toLong >= cur))
      .foreach { st =>
        fs.listStatus(st.getPath).toSeq
          .filter(u => u.isFile && u.getPath.getName.endsWith(".json"))
          .foreach { u =>
            val body = graft.maintenance.HmacSigner.stripUnverified(
              readString(fs, u.getPath))
            scala.util.Try(TableJson.readManifest(body).map(_.path)) match {
              case scala.util.Success(ps) => paths ++= ps
              case scala.util.Failure(_) =>
                prefixes += s"data/${st.getPath.getName}/"
            }
          }
      }
    (paths.result(), prefixes.result())
  }

  /** The distributed GC body: reachable = flatMap over manifests (entries
    * parsed in tasks), listed = recursive listing fanned out per first-level
    * data/ directory (job-prefix dirs — bounded by commit count, not file
    * count), dead = listed.subtract(reachable), deleted per-partition in
    * executors. Deletion is idempotent, so a retried task is harmless. */
  private def distributedOrphanData(
      spark: SparkSession, manifestNames: Seq[String], delete: Boolean,
      cutoff: Long, protectedByLedger: Set[String],
      protectedPrefixes: Set[String]): Seq[String] = {
    val debug = sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")
    var t0 = System.nanoTime()
    def tick(label: String): Unit = if (debug) {
      System.err.println(f"STEP gc.$label ${(System.nanoTime() - t0) / 1e6}%.0fms")
      t0 = System.nanoTime()
    }
    val sc = spark.sparkContext
    val confBc = sc.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val mdDirStr = metadataDir.toString
    val rootStr = root.toString
    val mSlices = math.max(1, math.min(manifestNames.size, sc.defaultParallelism * 2))
    // ledger-protected staged files ride in as extra reachable paths: the
    // set is bounded by crashed runs' outputs, metadata-scale either way
    val reachable = sc.parallelize(manifestNames, mSlices).flatMap { name =>
      val dir = new Path(mdDirStr)
      val tfs = dir.getFileSystem(confBc.value.value)
      TableJson.readManifest(readString(tfs, new Path(dir, name))).map(_.path)
    } ++ sc.parallelize(protectedByLedger.toSeq, 1)
    val top = fs.listStatus(dataDir).toSeq
    val loose = top.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getModificationTime < cutoff)
      .map(st => relativize(root, st.getPath))
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString)
    val dSlices = math.max(1, math.min(math.max(dirs.size, 1), sc.defaultParallelism * 2))
    // listParquetFast: an NIO walk on the local FS (no per-file `ls -ld`
    // exec — 2 min for 33k files through Hadoop's LocalFileSystem), the
    // paged recursive LIST elsewhere
    val listed = sc.parallelize(dirs, dSlices).flatMap { d =>
      val p = new Path(d)
      TokenTable.listParquetFast(p.getFileSystem(confBc.value.value), p).collect {
        case (q, _, mtime) if mtime < cutoff => relativize(new Path(rootStr), q)
      }
    } ++ sc.parallelize(loose, 1)
    tick("plan")
    // prefix-protected staging dirs (unparseable ledger units — conservative
    // over-protection): tiny set, rides as a task-closure filter
    val prefixesLocal = protectedPrefixes
    val dead = listed.filter(p => !prefixesLocal.exists(p.startsWith))
      .subtract(reachable)
    val out =
      if (delete) dead.mapPartitions { it =>
        val tfs = new Path(rootStr).getFileSystem(confBc.value.value)
        it.map { rel => tfs.delete(new Path(rootStr, rel), false); rel }
      } else dead
    // the one driver-side collect is the orphan list itself — small on any
    // maintained table, and the caller's return value either way
    val collected = out.collect().toSeq.sorted
    tick("run")
    if (debug) System.err.println(s"GC orphans=${collected.size}")
    collected
  }

  /** Sweep ledger directories abandoned by crashed runs: a stepId embeds the
    * snapshot id it planned against (`…-snap<N>-…`), and once ANY newer
    * commit lands, a resumed run replans and gets a fresh stepId — so a
    * ledger whose embedded id is older than the current snapshot can never
    * be resumed and would otherwise accumulate forever on busy tables.
    * The grace cutoff additionally protects a LIVE run in that state (its
    * plan was invalidated by a newer commit but it is still writing units
    * before discovering the conflict). Liveness is judged by the NEWEST
    * CHILD file's mtime (max'd with the directory's own, for an empty just-
    * created ledger): directory mtimes move on child writes on local FS /
    * HDFS but object stores have no directories and no mtime propagation,
    * so keying off the directory entry alone would sweep an actively-
    * written ledger there. One extra listing per candidate dir — the dir is
    * listed for deletion anyway, and ledger count is crash-bounded. */
  private def sweepStaleLedgers(cutoff: Long): Seq[String] = {
    val ledgerDir = new Path(metadataDir, "ledger")
    val cur = meta.currentSnapshotId.getOrElse(return Seq.empty)
    if (!fs.exists(ledgerDir)) return Seq.empty
    val snapRe = "-snap(\\d+)-".r
    def newestTouch(st: org.apache.hadoop.fs.FileStatus): Long = {
      val children = scala.util.Try(fs.listStatus(st.getPath).toSeq)
        .getOrElse(Seq.empty)
      (st.getModificationTime +: children.map(_.getModificationTime)).max
    }
    fs.listStatus(ledgerDir).toSeq
      .filter(st => st.isDirectory && newestTouch(st) < cutoff)
      .flatMap { st =>
        val name = st.getPath.getName
        snapRe.findFirstMatchIn(name) match {
          case Some(g) if g.group(1).toLong < cur =>
            fs.delete(st.getPath, true)
            Some(s"metadata/ledger/$name")
          case _ => None
        }
      }
  }

  def listDataFiles(): Seq[String] = listDataFiles(Long.MaxValue)

  private def listDataFiles(cutoff: Long): Seq[String] = {
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
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(rootStr)
    val fs = root.getFileSystem(conf)
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
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    new TokenTable(root, fs)
  }

  def exists(spark: SparkSession, rootStr: String): Boolean = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new Path(root, "metadata/v0.json"))
  }

  /**
   * Per-file stats over a staged directory, read from parquet FOOTERS only —
   * no data pass (the Iceberg design: the row groups' column chunk min/max
   * ARE the file stats). Binary stats may be truncated by the writer; a
   * truncated min is still a valid lower bound and max an upper bound, which
   * is all pruning needs. Falls back to a Spark scan for any file whose
   * footer lacks stats. Footers are read by a distributed Spark job over the
   * staged paths (each task opens only footers, never data pages) — the
   * driver does zero file IO, so a 1000-executor commit of 100k files costs
   * one short stage instead of a driver crawl.
   */
  def collectStats(
      spark: SparkSession, fs: FileSystem, root: Path, stagingDir: Path,
      readSchema: StructType = sequenceSchema): Seq[DataFileMeta] = {
    val tList0 = System.nanoTime()
    val files: Seq[(Path, Long)] =
      listParquetFast(fs, stagingDir).map { case (p, len, _) => (p, len) }
    val tList1 = System.nanoTime()
    if (files.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val confBc = sc.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val tBc = System.nanoTime()
    val rootStr = root.toString
    val inputs: Seq[(String, Long, String)] =
      files.map { case (p, len) => (p.toString, len, relativize(root, p)) }
    val slices = math.max(1, math.min(inputs.size, sc.defaultParallelism * 2))
    val results: Array[(String, Option[DataFileMeta])] =
      sc.parallelize(inputs, slices).map { case (pathStr, len, rel) =>
        rel -> footerStats(confBc.value.value, new Path(pathStr), len, rel)
      }.collect()
    if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
      System.err.println(f"STATS list ${(tList1 - tList0) / 1e6}%.0fms bc ${(tBc - tList1) / 1e6}%.0fms job ${(System.nanoTime() - tBc) / 1e6}%.0fms files=${files.size}")

    val fromFooters = results.flatMap(_._2)
    val missing = results.collect { case (rel, None) => rel }.toSet
    val fallback =
      if (missing.isEmpty) Seq.empty
      else scanStats(spark, fs, new Path(rootStr),
        files.filter(f => missing.contains(relativize(root, f._1))), readSchema)
    (fromFooters.toSeq ++ fallback).sortBy(_.path)
  }

  /** Footer-only stats of one parquet file (runs inside executor tasks). */
  private def footerStats(
      conf: Configuration, p: Path, len: Long, relPath: String): Option[DataFileMeta] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      if (blocks.isEmpty) return None
      var records = 0L
      var minDoc: String = null; var maxDoc: String = null
      var minSrc: String = null; var maxSrc: String = null
      var minTok = Int.MaxValue; var maxTok = Int.MinValue
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        records += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val c = cit.next()
          val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          if (s == null || s.isEmpty) {
            c.getPath.toDotString match {
              case "doc_id" | "n_tok" | "source" => return None // no stats: fall back
              case _ => ()
            }
          } else c.getPath.toDotString match {
            case "doc_id" =>
              val lo = s.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
              val hi = s.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
              if (minDoc == null || lo < minDoc) minDoc = lo
              if (maxDoc == null || hi > maxDoc) maxDoc = hi
            case "n_tok" =>
              minTok = math.min(minTok, s.genericGetMin.asInstanceOf[Number].intValue)
              maxTok = math.max(maxTok, s.genericGetMax.asInstanceOf[Number].intValue)
            case "source" =>
              val lo = s.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
              val hi = s.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
              if (minSrc == null || lo < minSrc) minSrc = lo
              if (maxSrc == null || hi > maxSrc) maxSrc = hi
            case _ => ()
          }
        }
      }
      if (minDoc == null || minSrc == null || minTok == Int.MaxValue) None
      else Some(DataFileMeta(
        path = relPath, records = records, bytes = len,
        minDocId = minDoc, maxDocId = maxDoc,
        minNTok = minTok, maxNTok = maxTok, sumNTok = 0L,
        sources = if (minSrc == maxSrc) Seq(minSrc) else Seq.empty,
        minSource = Some(minSrc), maxSource = Some(maxSrc)))
    } finally reader.close()
  }

  /** Fallback stats via a columnar scan of the metadata columns (used only
    * when a footer carries no usable statistics). */
  private def scanStats(
      spark: SparkSession, fs: FileSystem, root: Path,
      files: Seq[(Path, Long)], readSchema: StructType): Seq[DataFileMeta] = {
    val sizes: Map[String, Long] = files.map { case (p, l) => p.toUri.getPath -> l }.toMap
    val df = spark.read.schema(readSchema).parquet(files.map(_._1.toString): _*)
    val stats = df
      .select(col("doc_id"), col("n_tok"), col("source"),
        input_file_name().as("_file"))
      .groupBy(col("_file"))
      .agg(
        count(lit(1)).as("records"),
        min("doc_id").as("minDocId"), max("doc_id").as("maxDocId"),
        min("n_tok").as("minNTok"), max("n_tok").as("maxNTok"),
        sum(col("n_tok").cast("long")).as("sumNTok"),
        collect_set("source").as("sources"))
      .collect()
    stats.map { r =>
      val uriPath = new Path(new java.net.URI(r.getString(0))).toUri.getPath
      DataFileMeta(
        path = relativize(root, new Path(uriPath)),
        records = r.getLong(1),
        bytes = sizes.getOrElse(uriPath, fs.getFileStatus(new Path(uriPath)).getLen),
        minDocId = r.getString(2), maxDocId = r.getString(3),
        minNTok = r.getInt(4), maxNTok = r.getInt(5),
        sumNTok = r.getLong(6),
        sources = r.getSeq[String](7).sorted)
    }.sortBy(_.path).toSeq
  }

  /** Write one manifest file and return its list entry — static so the
    * distributed commit path can run it inside executor tasks. */
  private[table] def writeManifestFile(
      fs: FileSystem, metadataDir: Path, files: Seq[DataFileMeta]): ManifestMeta = {
    val name = s"manifest-${UUID.randomUUID()}.json"
    writeString(fs, new Path(metadataDir, name), TableJson.write(files))
    ManifestMeta(name, files.size, files.map(_.records).sum, files.map(_.bytes).sum,
      minDocId = files.map(_.minDocId).minOption,
      maxDocId = files.map(_.maxDocId).maxOption)
  }

  /** One manifest's carry-forward step: read, drop replaced entries, write
    * the replacement when changed. Returns (carried/replacement manifest,
    * replaced paths found). Static and pure so the driver loop and the
    * distributed commit path share it verbatim. */
  private[table] def rewriteManifestEntries(
      fs: FileSystem, metadataDir: Path, m: ManifestMeta,
      replaced: Set[String]): (Option[ManifestMeta], Set[String]) = {
    val entries = TableJson.readManifest(readString(fs, new Path(metadataDir, m.path)))
    val found = entries.iterator.map(_.path).filter(replaced.contains).toSet
    val kept = entries.filterNot(e => replaced.contains(e.path))
    val out =
      if (kept.size == entries.size) Some(m) // untouched: carry forward
      else if (kept.isEmpty) None
      else Some(writeManifestFile(fs, metadataDir, kept))
    (out, found)
  }

  /** doc_id hull of a file set — the `replacedRange` hint for [[TokenTable.commit]]. */
  def docRange(files: Seq[DataFileMeta]): Option[(String, String)] =
    if (files.isEmpty) None
    else Some((files.map(_.minDocId).min, files.map(_.maxDocId).max))

  /** Whether equality-delete file `d` can hide rows of data file `f`: it was
    * committed later (higher sequence) and its doc range meets `f`'s. */
  def deleteApplies(d: DataFileMeta, f: DataFileMeta): Boolean =
    d.seqOr0 > f.seqOr0 && d.maxDocId >= f.minDocId && d.minDocId <= f.maxDocId

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
    * blocked until the claim file is removed). Non-local filesystems keep
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
