package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance._
import graft.table.{Clock, TokenTable}

/** End-to-end slice of SURVEY.md §7.2: generate → compact → zorder → verify
  * content preservation, file-count reduction, resume, snapshot isolation. */
class TokenTableSpec extends SparkSpec {

  /** Canonical content fingerprint: order-independent, token-array-exact. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))).as("h"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("generator is deterministic and schema-exact") {
    val df = SequenceGen.sequences(spark, 1000)
    // same column names + physical types (int32 arrays, no widening);
    // nullability flags are advisory on file sources
    assert(df.schema.map(f => (f.name, f.dataType.sql)) ==
      TokenTable.sequenceSchema.map(f => (f.name, f.dataType.sql)))
    assert(df.filter(col("tokens").isNull || col("n_tok").isNull ||
      col("source").isNull || exists(col("tokens"), _.isNull)).count() == 0)
    val a = fingerprint(df)
    val b = fingerprint(SequenceGen.sequences(spark, 1000))
    assert(a == b)
    // tokens length invariant
    assert(df.filter(size(col("tokens")) =!= col("n_tok")).count() == 0)
  }

  test("stageWrite conforms batches to the table schema: cast, null-fill, reject") {
    val root = tmpDir("tt-conform")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 200, nFiles = 2)
    // type-sloppy batch: bigint-array tokens into the int-array column must
    // be cast BEFORE bytes land, or every later scan of the table fails
    val sloppy = SequenceGen.sequences(spark, 10, seed = 3)
      .withColumn("doc_id", concat(lit("s-"), col("doc_id")))
      .withColumn("tokens", transform(col("tokens"), _.cast("long")))
    t.commit("append", t.stageWrite(sloppy, "conform-cast"))
    assert(t.scan(spark).count() == 210) // scan still readable ⇒ types agree
    // unknown column: loud rejection, not silent drop
    val unknown = SequenceGen.sequences(spark, 5, seed = 4).withColumn("extra", lit(1))
    val e1 = intercept[IllegalArgumentException] { t.stageWrite(unknown, "conform-unk") }
    assert(e1.getMessage.contains("extra"), e1.getMessage)
    // missing nullable (evolved) column: null-filled — the full-row-upsert
    // contract MorMergeSpec pins end-to-end
    t.evolveSchema(Seq(graft.table.AddColumn("lang", "STRING")))
    val canonical = SequenceGen.sequences(spark, 5, seed = 5)
      .withColumn("doc_id", concat(lit("n-"), col("doc_id")))
    t.commit("append", t.stageWrite(canonical, "conform-null"))
    assert(t.scan(spark).filter(col("doc_id").startsWith("n-"))
      .filter(col("lang").isNull).count() == 5)
    // incompatible type (string into int array): loud rejection
    val bad = SequenceGen.sequences(spark, 5, seed = 6)
      .withColumn("tokens", transform(col("tokens"), _.cast("string")))
    val e2 = intercept[IllegalArgumentException] { t.stageWrite(bad, "conform-bad") }
    assert(e2.getMessage.contains("tokens"), e2.getMessage)
  }

  test("conform cast stays ANSI in a LEGACY session: overflow throws, never wraps") {
    val root = tmpDir("tt-conform-ansi")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 20, nFiles = 1)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    // migrated workloads commonly run ANSI-off; Column.cast would follow the
    // flag and silently wrap long→int overflow into committed corruption —
    // the conform projection must pin EvalMode.ANSI itself
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val overflow = SequenceGen.sequences(spark, 5, seed = 7)
        .withColumn("doc_id", concat(lit("o-"), col("doc_id")))
        .withColumn("tokens", array(lit(4000000000L))) // > Int.MaxValue
        .withColumn("n_tok", lit(1))
      val e = intercept[Throwable] { t.stageWrite(overflow, "conform-ansi") }
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(_.isInstanceOf[ArithmeticException]), s"got: $e")
      assert(t.scan(spark).count() == 20, "a wrapped batch landed")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("create + append + scan round-trips content") {
    val root = tmpDir("tt-basic")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 5000, nFiles = 16)
    assert(t.liveFiles().size == 16)
    val pre = fingerprint(SequenceGen.sequences(spark, 5000))
    val post = fingerprint(t.scan(spark))
    assert(pre == post)
  }

  test("compaction reduces file count and preserves every token array") {
    val root = tmpDir("tt-compact")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 8000, nFiles = 32)
    val before = fingerprint(t.scan(spark))
    val snap = Maintenance.compact(spark, t,
      targetFileBytes = 64L * 1024 * 1024, smallFileThreshold = Some(32L * 1024 * 1024))
    assert(snap.isDefined)
    assert(t.liveFiles().size < 32)
    assert(fingerprint(t.scan(spark)) == before)
    // per-row token-array equality (BASELINE.json input_hint invariant)
    val pre = SequenceGen.sequences(spark, 8000).as("a")
    val post = t.scan(spark).as("b")
    val mismatched = pre.join(post, col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.tokens") =!= col("b.tokens")).count()
    assert(mismatched == 0)
  }

  test("zorder cluster preserves content and improves source pruning") {
    val root = tmpDir("tt-zorder")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 8000, nFiles = 32)
    val before = fingerprint(t.scan(spark))
    val scatteredPrunable = t.planFiles(sourceIn = Some(Set("code"))).size
    // target sized for the zstd-compressed table (write.parquet.codec
    // default) so the cluster still emits enough files for pruning to bite
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 256L * 1024)
    assert(fingerprint(t.scan(spark)) == before)
    val clustered = t.liveFiles()
    // after clustering, source pruning must skip at least some files
    val prunable = t.planFiles(sourceIn = Some(Set("code"))).size
    assert(clustered.size > 1)
    assert(prunable < clustered.size,
      s"source pruning skipped nothing: $prunable of ${clustered.size} files " +
        s"(pre-cluster: $scatteredPrunable of 32)")
    // doc_id range pruning should also skip files
    val rangeFiles = t.planFiles(docIdRange = Some(("doc000000000000", "doc000000000100"))).size
    assert(rangeFiles < clustered.size)
  }

  test("hilbert cluster preserves content") {
    val root = tmpDir("tt-hilbert")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 4000, nFiles = 16)
    val before = fingerprint(t.scan(spark))
    Maintenance.cluster(spark, t, Hilbert(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 2L * 1024 * 1024)
    assert(fingerprint(t.scan(spark)) == before)
  }

  test("merge into: eager upsert + insert + delete, debounced last-write-wins") {
    import spark.implicits._
    val root = tmpDir("tt-merge")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 2000, nFiles = 8)

    // batch: update doc 5 (two conflicting writes — _seq 2 wins), insert a new
    // doc, delete doc 7
    val batch = Seq(
      ("doc000000000005", Seq(1, 2, 3), 3, "web", 1L, "upsert"),
      ("doc000000000005", Seq(9, 9, 9, 9), 4, "code", 2L, "upsert"),
      ("docNEW000000001", Seq(42), 1, "books", 1L, "upsert"),
      ("doc000000000007", Seq.empty[Int], 0, "web", 1L, "delete"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_seq", "_op")

    Maintenance.mergeInto(spark, t, batch)
    val out = t.scan(spark).cache()
    assert(out.count() == 2000) // 2000 - 1 delete + 1 insert
    val d5 = out.filter($"doc_id" === "doc000000000005").collect()(0)
    assert(d5.getSeq[Int](1) == Seq(9, 9, 9, 9) && d5.getString(3) == "code")
    assert(out.filter($"doc_id" === "docNEW000000001").count() == 1)
    assert(out.filter($"doc_id" === "doc000000000007").count() == 0)
    out.unpersist()
  }

  test("merge into a table with no snapshot: eager inserts the debounced batch") {
    import spark.implicits._
    val t = TokenTable.create(spark, tmpDir("tt-merge-empty") + "/tbl")
    assert(t.liveFiles().isEmpty && t.scan(spark).isEmpty)
    intercept[RuntimeException](t.liveFiles(Some(1L)))
    // compact and the predicate delete have nothing to rewrite yet
    assert(Maintenance.compact(spark, t).isEmpty)
    assert(Maintenance.deleteWhere(spark, t, Maintenance.DocIdBetween("a", "z")).isEmpty)
    val batch = Seq(
      ("doc-a", Seq(1, 2), 2, "web", 1L, "upsert"),
      ("doc-a", Seq(3), 1, "code", 2L, "upsert"),
      ("doc-b", Seq(4), 1, "web", 1L, "upsert"),
      ("doc-c", Seq.empty[Int], 0, "web", 1L, "delete"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_seq", "_op")
    Maintenance.mergeInto(spark, t, batch)
    val out = t.scan(spark).orderBy("doc_id").as[(String, Seq[Int], Int, String)].collect()
    assert(out.toSeq == Seq(("doc-a", Seq(3), 1, "code"), ("doc-b", Seq(4), 1, "web")))
    assert(t.metadata.snapshots.size == 1)
  }

  test("merge into: match-only never inserts") {
    import spark.implicits._
    val root = tmpDir("tt-merge-mo")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 500, nFiles = 4)
    val batch = Seq(
      ("doc000000000005", Seq(7), 1, "web"),
      ("docDOESNOTEXIST", Seq(8), 1, "web"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    Maintenance.mergeInto(spark, t, batch, CreationRule.MatchOnly)
    val out = t.scan(spark)
    assert(out.count() == 500)
    assert(out.filter($"doc_id" === "docDOESNOTEXIST").count() == 0)
    assert(out.filter($"doc_id" === "doc000000000005").select("n_tok").collect()(0).getInt(0) == 1)
  }

  test("crash between compaction chunks resumes without recompute") {
    val root = tmpDir("tt-resume")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 6000, nFiles = 24)
    val before = fingerprint(t.scan(spark))
    Failpoints.armAt("rewrite.after-unit", 2) // die after 2nd chunk staged
    intercept[Failpoints.InjectedFailure] {
      Maintenance.compact(spark, t, targetFileBytes = 4L * 1024 * 1024,
        smallFileThreshold = Some(4L * 1024 * 1024), chunks = 4)
    }
    Failpoints.reset()
    // staged outputs of completed chunks exist; note their modification times
    val stagedBefore = t.listDataFiles().filter(_.contains("compact-"))
    assert(stagedBefore.nonEmpty)
    val mtimes = stagedBefore.map(p =>
      p -> t.fs.getFileStatus(new org.apache.hadoop.fs.Path(t.root, p)).getModificationTime).toMap
    // resume: same deterministic step id → completed chunks skipped
    val snap = Maintenance.compact(spark, t, targetFileBytes = 4L * 1024 * 1024,
      smallFileThreshold = Some(4L * 1024 * 1024), chunks = 4)
    assert(snap.isDefined)
    assert(fingerprint(t.scan(spark)) == before)
    stagedBefore.foreach { p =>
      val now = t.fs.getFileStatus(new org.apache.hadoop.fs.Path(t.root, p)).getModificationTime
      assert(now == mtimes(p), s"$p was recomputed on resume")
    }
  }

  test("snapshot isolation: reader pinned to old snapshot during maintenance") {
    val root = tmpDir("tt-isolation")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 3000, nFiles = 12)
    val s0 = t.metadata.currentSnapshotId.get
    val before = fingerprint(t.scan(spark, snapshotId = Some(s0)))
    Maintenance.compact(spark, t, targetFileBytes = 64L * 1024 * 1024,
      smallFileThreshold = Some(32L * 1024 * 1024))
    // reader still on s0 sees identical content (old files not deleted yet)
    assert(fingerprint(t.scan(spark, snapshotId = Some(s0))) == before)
    // and the new snapshot too
    assert(fingerprint(t.scan(spark)) == before)
  }

  test("expire snapshots + reachability GC deletes only unreachable files") {
    val root = tmpDir("tt-expire")
    Clock.freeze(1000000L)
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 2000, nFiles = 8)
    Clock.freeze(2000000L)
    Maintenance.compact(spark, t, targetFileBytes = 64L * 1024 * 1024,
      smallFileThreshold = Some(32L * 1024 * 1024))
    Clock.thaw()
    val before = fingerprint(t.scan(spark))
    val filesBeforeGc = t.listDataFiles().size
    assert(t.orphanFiles(0).isEmpty) // old snapshot still retains them
    t.expireSnapshots(retainLast = 1)
    val deleted = t.removeOrphans(0)
    assert(deleted.nonEmpty)
    assert(t.listDataFiles().size < filesBeforeGc)
    assert(fingerprint(t.scan(spark)) == before) // live data untouched
  }

  test("manifest rewrite is metadata-only and preserves the live set") {
    val root = tmpDir("tt-manifest")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 2000, nFiles = 16)
    val liveBefore = t.liveFiles().map(_.path).toSet
    val before = fingerprint(t.scan(spark))
    Maintenance.rewriteManifests(t, entriesPerManifest = 4)
    assert(t.liveFiles().map(_.path).toSet == liveBefore)
    assert(t.metadata.currentSnapshot.get.manifests.size == 4)
    assert(fingerprint(t.scan(spark)) == before)
  }

  test("delete-by-predicate: metadata-only drop when stats prove full match") {
    val root = tmpDir("tt-ttl")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 3000, nFiles = 12)
    // cluster by source so whole files become provably single-source
    // (target sized for zstd-compressed files — several per source)
    Maintenance.cluster(spark, t, SortBy(Seq("source", "doc_id")),
      targetFileBytes = 64L * 1024)
    val expected = t.scan(spark).filter(col("source") =!= "code").count()
    val snap = Maintenance.deleteWhere(spark, t, Maintenance.SourceIn(Set("code")))
    assert(snap.isDefined)
    assert(snap.get.summary("metadata-only-deleted-files").toInt > 0)
    assert(t.scan(spark).count() == expected)
    assert(t.scan(spark).filter(col("source") === "code").count() == 0)
  }

  test("concurrent commit race: loser retries and both appends land") {
    val root = tmpDir("tt-race")
    val t1 = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 500, nFiles = 2)
    val t2 = TokenTable.load(spark, s"$root/tbl")
    val df1 = SequenceGen.sequences(spark, 100, seed = 7)
      .withColumn("doc_id", concat(lit("a-"), col("doc_id")))
    val df2 = SequenceGen.sequences(spark, 100, seed = 8)
      .withColumn("doc_id", concat(lit("b-"), col("doc_id")))
    val f1 = t1.stageWrite(df1, "race-1")
    val f2 = t2.stageWrite(df2, "race-2")
    // interleave commits on two handles of the same table
    t1.commit("append", f1)
    t2.commit("append", f2) // must retry over t1's commit, not clobber it
    assert(t2.scan(spark).count() == 700)
  }

  test("write-time stats equal a scan oracle for every write shape") {
    import org.apache.hadoop.fs.Path
    import graft.table.{AddColumn, DataFileMeta, PartitionField}
    val root = tmpDir("tt-stats-oracle")
    val seqs = SequenceGen.sequences(spark, 400, seed = 7)
    def check(t: TokenTable, staged: Seq[DataFileMeta], dir: String, minFiles: Int): Unit = {
      assert(staged.size >= minFiles, s"$dir: ${staged.map(_.path)}")
      assert(staged.map(_.path) == staged.map(_.path).sorted)
      assert(staged.forall(f => f.records > 0 && f.bytes > 0))
      assert(staged.map(_.copy(schemaId = None, partition = None)) ==
        StatsOracle(spark, t.root, new Path(t.root, s"data/$dir")), dir)
    }
    val t = TokenTable.create(spark, s"$root/plain")
    val one = t.stageWrite(seqs.coalesce(1), "one")
    check(t, one, "one", 1)
    assert(one.size == 1 && one.head.schemaId.contains(0))
    check(t, t.stageWrite(seqs.repartition(4), "four"), "four", 4)
    // duplicate keys through the dedup exchange, left uncoalesced so the
    // keys land in several files
    val prev = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val keys = try t.stageDeleteKeys(seqs.unionByName(seqs), "keys")
      finally prev.fold(spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled"))(
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", _))
    check(t, keys, "deletes/keys", 2)
    assert(keys.map(_.records).sum == 400)
    // identity partitions: part-file names repeat across partition dirs, and
    // one value is escaped in its directory name
    val tp = TokenTable.create(spark, s"$root/part",
      partitionSpec = Seq(PartitionField("source", "identity")))
    val parts = tp.stageWrite(seqs.withColumn("source",
      when(col("n_tok") % 2 === 0, lit("sla/sh")).otherwise(lit("web"))).repartition(2), "part")
    check(tp, parts, "part", 4)
    assert(parts.flatMap(_.partitionValue("source")).toSet == Set("sla/sh", "web"))
    val te = SequenceGen.createTable(spark, s"$root/evolved", 200, 2)
    te.evolveSchema(Seq(AddColumn("quality", "DOUBLE")))
    val ev = te.stageWrite(seqs.withColumn("quality", lit(0.5)).repartition(2), "ev")
    check(te, ev, "ev", 2)
    assert(ev.forall(_.schemaId.contains(te.metadata.schemaIdNow)) && te.metadata.schemaIdNow > 0)
    // zero rows stage nothing and leave no staging dir
    assert(t.stageWrite(seqs.filter(lit(false)), "empty").isEmpty)
    assert(t.stageDeleteKeys(seqs.filter(lit(false)), "no-keys").isEmpty)
    assert(!t.fs.exists(new Path(t.root, "data/empty")) &&
      !t.fs.exists(new Path(t.root, "data/deletes/no-keys")))
    // the format writes only with the stats handle its table write supplies
    val refused = intercept[Exception](seqs.write
      .format(classOf[graft.table.StatsParquetFormat].getName).save(s"$root/no-handle"))
    assert(Iterator.iterate[Throwable](refused)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("writes only through")), refused)
  }

  test("a multi-file stageWrite runs one Spark job") {
    val t = TokenTable.create(spark, tmpDir("tt-write-jobs") + "/tbl")
    val df = SequenceGen.sequences(spark, 400, seed = 7).repartition(4).localCheckpoint()
    val (staged, jobs) = org.apache.spark.graftbridge.JobCounter.jobsOf(spark.sparkContext) {
      t.stageWrite(df, "four")
    }
    assert(staged.size == 4 && jobs == 1, s"${staged.size} files, $jobs jobs")
  }

  test("a file or directory vanishing mid-listing is skipped, not fatal") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("tt-list-vanish")
    val t = TokenTable.create(spark, s"$root/tbl")
    val data = Paths.get(s"$root/tbl/data")
    val rels = Seq("x.parquet", "y.parquet", "a/1.parquet", "a/2.parquet", "b/3.parquet", "b/c/4.parquet")
    rels.foreach { r =>
      val p = data.resolve(r)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
    }
    val all = rels.map("data/" + _).toSet
    assert(t.listDataFiles().toSet == all)
    // after the first file is listed, every other file and directory still
    // queued in the walk disappears (a writer retiring replaced files)
    var fired = false
    Failpoints.armCallback("table.list.after-file") { () =>
      fired = true
      Files.walk(data).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
    }
    val listed = try t.listDataFiles() finally Failpoints.reset()
    assert(fired)
    assert(listed.size == 1 && all.contains(listed.head), s"listed $listed")
    assert(t.listDataFiles().isEmpty)
  }

  test("a commit interleaved between base load and publish is never dropped") {
    import graft.maintenance.Failpoints
    val root = tmpDir("tt-slot-race")
    val t1 = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 2)
    val t2 = TokenTable.load(spark, s"$root/tbl")
    val interleaved = t2.stageWrite(
      SequenceGen.sequences(spark, 10, seed = 3)
        .withColumn("doc_id", concat(lit("x"), col("doc_id"))), "interleaved")
    // land a commit from another instance exactly between this instance's
    // base load and its version publish — the classic lost-update window:
    // the stale base must LOSE its pinned slot and replan, never publish
    // over the interleaved snapshot at the next slot
    Failpoints.armCallback("table.commit.after-base") { () =>
      t2.commit("append", interleaved)
    }
    try {
      val staged = t1.stageWrite(
        SequenceGen.sequences(spark, 10, seed = 4)
          .withColumn("doc_id", concat(lit("y"), col("doc_id"))), "mine")
      t1.commit("append", staged)
    } finally Failpoints.reset()
    t1.refresh()
    val ops = t1.metadata.snapshots.map(s => (s.snapshotId, s.operation))
    assert(t1.metadata.snapshots.size == 3, s"a snapshot was dropped: $ops")
    assert(t1.metadata.snapshots.map(_.snapshotId).distinct.size == 3, s"duplicate ids: $ops")
  }

  test("expireSnapshots, setRef and manifest rewrites retry through the one commit loop") {
    import graft.maintenance.Failpoints
    val root = tmpDir("tt-loop-race")
    val t1 = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 2)
    val t2 = TokenTable.load(spark, s"$root/tbl")
    // land an append from another instance between t1's base load and its
    // publish: t1 must lose its pinned slot and rebuild from the new base
    def interleave(prefix: String, seed: Long): Unit = {
      val files = t2.stageWrite(SequenceGen.sequences(spark, 10, seed = seed)
        .withColumn("doc_id", concat(lit(prefix), col("doc_id"))), s"loop-$prefix")
      Failpoints.armCallback("table.commit.after-base") { () => t2.commit("append", files) }
    }
    interleave("x", 3)
    val expired = try t1.expireSnapshots(retainLast = 1) finally Failpoints.reset()
    assert(expired.currentSnapshotId == t2.refresh().currentSnapshotId,
      "expireSnapshots published over the interleaved append")
    assert(t1.scan(spark).count() == 110)

    val pinned = t1.metadata.currentSnapshotId.get
    interleave("y", 4)
    val tagged = try t1.setRef("pin", pinned) finally Failpoints.reset()
    assert(tagged.refMap.get("pin").map(_.snapshotId).contains(pinned))
    assert(tagged.currentSnapshotId == t2.refresh().currentSnapshotId,
      "setRef published over the interleaved append")
    assert(t1.scan(spark).count() == 120)

    // a manifest regrouping planned against the old live set cannot commit
    interleave("z", 5)
    try intercept[graft.table.CommitConflictException] {
      Maintenance.rewriteManifests(t1, entriesPerManifest = 1)
    } finally Failpoints.reset()
    assert(t1.refresh().currentSnapshotId == t2.refresh().currentSnapshotId)
    assert(t1.scan(spark).count() == 130)
  }

  test("without hard links, racing publishers claim the version slot: one wins, no tmp left") {
    import graft.maintenance.Failpoints
    val root = tmpDir("tt-no-links")
    val t1 = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 2)
    val t2 = TokenTable.load(spark, s"$root/tbl")
    def stage(t: TokenTable, prefix: String, seed: Long) = t.stageWrite(
      SequenceGen.sequences(spark, 10, seed = seed)
        .withColumn("doc_id", concat(lit(prefix), col("doc_id"))), s"no-links-$prefix")
    val (mine, theirs) = (stage(t1, "y", 4), stage(t2, "x", 3))
    // every link attempt fails the way a link-less mount does (the callback
    // re-arms itself, so it fires on each publish)
    var linkFailures = 0
    def noLinks(): Unit = Failpoints.armCallback("table.publish.link") { () =>
      linkFailures += 1
      noLinks()
      throw new java.nio.file.FileSystemException("hard links not supported")
    }
    noLinks()
    // t2 publishes into the very slot t1 pinned: t1 must lose it and replan
    Failpoints.armCallback("table.commit.after-base") { () => t2.commit("append", theirs) }
    try t1.commit("append", mine) finally Failpoints.reset()
    assert(linkFailures == 3, s"publishes through the fallback: $linkFailures")
    t1.refresh()
    val ops = t1.metadata.snapshots.map(s => (s.snapshotId, s.operation))
    assert(t1.metadata.snapshots.size == 3, s"a snapshot was dropped: $ops")
    assert(t1.scan(spark).count() == 120)
    val meta = new java.io.File(t1.metadataDir.toUri.getPath).list().toSeq
    assert(!meta.exists(n => n.startsWith(".tmp-") || n.contains(".claim")), s"left behind: $meta")
  }

  test("removeOrphans sweeps an abandoned version-slot claim past the grace window") {
    import graft.maintenance.Failpoints
    val root = tmpDir("tt-stale-claim")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 2)
    val staged = t.stageWrite(SequenceGen.sequences(spark, 10, seed = 5)
      .withColumn("doc_id", concat(lit("c"), col("doc_id"))), "stale-claim")
    // a publisher died holding the next slot's claim, older than the window
    val meta = java.nio.file.Paths.get(t.metadataDir.toUri.getPath)
    val next = meta.toFile.list().count(_.matches("""v\d+\.json"""))
    val claim = meta.resolve(s".v$next.json.claim")
    java.nio.file.Files.createFile(claim)
    java.nio.file.Files.setLastModifiedTime(claim, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - t.gcGraceMs - 60000))
    def noLinks(): Unit = Failpoints.armCallback("table.publish.link") { () =>
      noLinks()
      throw new java.nio.file.FileSystemException("hard links not supported")
    }
    noLinks()
    try {
      intercept[graft.table.CommitConflictException](t.commit("append", staged))
      assert(t.removeOrphans().contains(s".v$next.json.claim"))
      assert(!java.nio.file.Files.exists(claim))
      t.commit("append", staged)
    } finally Failpoints.reset()
    assert(t.scan(spark).count() == 110)
    assert(meta.toFile.list().count(_.matches("""v\d+\.json""")) == next + 1)
  }

  test("conflicting rewrites: a merge planned against files a compact replaced must abort") {
    import graft.maintenance.Maintenance
    val root = tmpDir("tt-conflict")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 500, nFiles = 4)
    val staleLive = t.liveFiles()
    // a merge-like plan staged against the current live set...
    val staged = t.stageWrite(SequenceGen.sequences(spark, 50, seed = 9), "conflict-merge")
    // ...while a concurrent compact rewrites those very files and commits first
    Maintenance.compact(spark, t, targetFileBytes = 64L * 1024 * 1024,
      smallFileThreshold = Some(64L * 1024 * 1024))
    // the stale plan must be rejected — never silently resurrect replaced files
    intercept[graft.table.CommitConflictException] {
      t.commit("merge", staged, staleLive.map(_.path).toSet)
    }
    // table content untouched by the failed commit
    assert(t.scan(spark).count() == 500)
  }
}
