package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.TokenTable

/** Merge-on-read MERGE: O(batch) commits (keys + append, never a rewrite)
  * that must converge to exactly the copy-on-write result on a unique-key
  * table, across stacked batches, deletes, re-inserts and compaction. */
class MorMergeSpec extends SparkSpec {

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("source")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def fresh(dirTag: String): TokenTable =
    SequenceGen.createTable(spark, tmpDir(dirTag) + "/tbl", 1000, 4)

  private def batch(t: TokenTable) = {
    val upd = t.scan(spark).filter(pmod(xxhash64(col("doc_id")), lit(5)) === 0)
      .select(col("doc_id"), col("tokens"), col("n_tok"),
        lit("upd").as("source"), lit("upsert").as("_op"))
    val ins = SequenceGen.sequences(spark, 50, seed = 77L)
      .select(concat(lit("new"), col("doc_id")).as("doc_id"), col("tokens"),
        col("n_tok"), lit("ins").as("source"), lit("upsert").as("_op"))
    val del = t.scan(spark).filter(pmod(xxhash64(col("doc_id")), lit(5)) === 1)
      .select(col("doc_id"), col("tokens"), col("n_tok"),
        col("source"), lit("delete").as("_op"))
    upd.unionByName(ins).unionByName(del).localCheckpoint()
  }

  test("mergeMor == mergeInto row-for-row; seed files never rewritten") {
    val tMor = fresh("mor-a")
    val tCow = fresh("mor-b")
    val b = batch(tMor) // same content for both (deterministic generators)
    val seedPaths = tMor.liveFiles().map(_.path).toSet
    Maintenance.mergeMor(spark, tMor, b)
    assert(seedPaths.subsetOf(tMor.liveFiles().map(_.path).toSet),
      "MoR merge rewrote data files")
    assert(tMor.metadata.currentSnapshot.exists(_.deletes.nonEmpty))
    Maintenance.mergeInto(spark, tCow, b)
    assert(checksum(tMor.scan(spark)) == checksum(tCow.scan(spark)),
      "MoR and CoW merge diverged")
  }

  test("a small MoR batch commits one data file and one key file with footer-exact stats") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val t = fresh("mor-one-file")
    val src = tmpDir("mor-one-file-src")
    batch(t).write.mode("overwrite").parquet(src)
    val b = spark.read.parquet(src) // planned size known: a few KB of parquet
    val seedPaths = t.liveFiles().map(_.path).toSet
    val snap = Maintenance.mergeMor(spark, t, b)
    assert(snap.nonEmpty)
    val added = t.liveFiles().filterNot(f => seedPaths.contains(f.path))
    val keys = t.deleteEntries(snap.get)
    assert(added.size == 1, s"data files: ${added.map(_.path)}")
    assert(keys.size == 1, s"key files: ${keys.map(_.path)}")
    // the data file's observed stats equal the footer pass on every field
    // the footer derives (footers carry no token sum: check it by a scan)
    val a = added.head
    val dataDir = new Path(t.root, a.path).getParent
    val footer = TokenTable.collectStats(spark, t.fs, t.root, dataDir)
    assert(footer.size == 1)
    assert(a.copy(sumNTok = 0L, schemaId = None, addedSeq = None) == footer.head)
    val tsum = spark.read.parquet(new Path(t.root, a.path).toString)
      .agg(sum(col("n_tok").cast("long"))).head.getLong(0)
    assert(a.sumNTok == tsum)
    // the key file's range and count equal its parquet footer
    val k = keys.head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(t.root, k.path), spark.sessionState.newHadoopConf()))
    try {
      val blocks = reader.getFooter.getBlocks
      assert(blocks.size == 1)
      val stats = blocks.get(0).getColumns.get(0).getStatistics
      assert(k.records == blocks.get(0).getRowCount)
      def utf8(v: Any) = v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      assert(k.minDocId == utf8(stats.genericGetMin) && k.maxDocId == utf8(stats.genericGetMax))
      // key files are written with the table's codec, like data files
      assert(blocks.get(0).getColumns.get(0).getCodec.name == "ZSTD")
    } finally reader.close()
    // and the merge still equals the copy-on-write result
    val tCow = fresh("mor-one-file-cow")
    Maintenance.mergeInto(spark, tCow, b)
    assert(checksum(t.scan(spark)) == checksum(tCow.scan(spark)))
  }

  test("delete key files honour the table's write.parquet.codec") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val t = fresh("mor-key-codec")
    t.updateProperties(Map("write.parquet.codec" -> "gzip"))
    val snap = Maintenance.mergeMor(spark, t, batch(t))
    val keys = t.deleteEntries(snap.get)
    assert(keys.nonEmpty)
    keys.foreach { k =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(t.root, k.path), spark.sessionState.newHadoopConf()))
      try assert(reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name == "GZIP", k.path)
      finally reader.close()
    }
  }

  test("stacked MoR merges: the later batch wins; delete then re-insert survives") {
    val t = fresh("mor-stack")
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    def payload(src: String, op: String) = {
      import spark.implicits._
      Seq((d0, Seq(9, 9), 2, src, op)).toDF("doc_id", "tokens", "n_tok", "source", "_op")
    }
    Maintenance.mergeMor(spark, t, payload("v1", "upsert"))
    Maintenance.mergeMor(spark, t, payload("v2", "upsert"))
    val got = t.scan(spark).filter(col("doc_id") === d0).select("source").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("v2"), s"got ${got.toSeq}")
    Maintenance.mergeMor(spark, t, payload("x", "delete"))
    assert(t.scan(spark).filter(col("doc_id") === d0).count() == 0)
    Maintenance.mergeMor(spark, t, payload("v3", "upsert"))
    val back = t.scan(spark).filter(col("doc_id") === d0).select("source").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("v3"))
    assert(t.scan(spark).count() == 1000)
  }

  test("compaction materializes MoR-merge keys without resurrecting or losing rows") {
    val t = fresh("mor-compact")
    Maintenance.mergeMor(spark, t, batch(t))
    val before = checksum(t.scan(spark))
    Maintenance.compact(spark, t, targetFileBytes = 4 << 20,
      smallFileThreshold = Some(64 << 20))
    Maintenance.materializeDeletes(spark, t)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    assert(checksum(t.scan(spark)) == before, "materialization changed content")
  }

  test("a rewrite planned before a MoR merge conflicts instead of resurrecting rows") {
    val root = tmpDir("mor-race") + "/tbl"
    val t1 = SequenceGen.createTable(spark, root, 600, 4) // planning view cached
    val t2 = TokenTable.load(spark, root)                 // concurrent MoR writer
    val d0 = t1.scan(spark).select(min(col("doc_id"))).head.getString(0)
    import spark.implicits._
    Maintenance.mergeMor(spark, t2,
      Seq((d0, Seq(5), 1, "v2", "upsert")).toDF("doc_id", "tokens", "n_tok", "source", "_op"))
    // t1 compacts from its pre-merge metadata: the rewrite would restamp
    // d0's OLD row past the delete key — commit must conflict, not resurrect
    intercept[graft.table.CommitConflictException] {
      Maintenance.compact(spark, t1, targetFileBytes = 1 << 20,
        smallFileThreshold = Some(64 << 20))
    }
    t1.refresh()
    val rows = t1.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("v2"), s"got $rows")
    // a REPLANNED compact (fresh metadata, deletes read through) succeeds
    // and materializes the key without resurrecting the old row
    Maintenance.compact(spark, t1, targetFileBytes = 1 << 20,
      smallFileThreshold = Some(64 << 20))
    val after = t1.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(after == Seq("v2"), s"post-compact got $after")
    assert(t1.scan(spark).count() == 600)
  }

  test("a MoR merge landing mid-plan on a shared table conflicts; retry converges") {
    // The ADVICE-r4 race: with live files and pending-delete paths read from
    // the volatile metadata SEPARATELY, a mergeMor landing between the reads
    // puts its delete path into the planned set while its appended file is
    // missing from the victim view — commit validation passes and a second
    // live copy of the upserted doc_id lands. The one-snapshot planning rule
    // must turn this into a CommitConflictException instead.
    val t = fresh("mor-midplan")
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    import spark.implicits._
    def payload(src: String) = Seq((d0, Seq(8), 1, src, "upsert"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    graft.maintenance.Failpoints.armCallback("merge.after-live") { () =>
      Maintenance.mergeMor(spark, t, payload("mor"))
    }
    try {
      intercept[graft.table.CommitConflictException] {
        Maintenance.mergeInto(spark, t, payload("cow"))
      }
    } finally graft.maintenance.Failpoints.reset()
    val rows = t.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("mor"), s"expected exactly the MoR row, got $rows")
    // the retrying wrapper replans against the MoR state and lands cleanly
    Maintenance.mergeIntoRetrying(spark, t, payload("cow2"))
    val after = t.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(after == Seq("cow2"), s"got $after")
    assert(t.scan(spark).count() == 1000)
  }

  test("full-row upsert contract: evolved columns null out on MoR-updated rows (CoW preserves)") {
    import spark.implicits._
    import graft.table.AddColumn
    // evolve + backfill `lang` by rewriting the table with the column set
    val t = fresh("mor-evolved")
    t.evolveSchema(Seq(AddColumn("lang", "STRING")))
    val backfilled = t.scan(spark).drop("lang").withColumn("lang", lit("en"))
    t.commit("append", t.stageWrite(backfilled, "backfill"),
      replaced = t.liveFiles().map(_.path).toSet,
      replacedRange = graft.table.TokenTable.docRange(t.liveFiles()))
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    assert(t.scan(spark).filter(col("doc_id") === d0).head.getAs[String]("lang") == "en")
    // CoW merge preserves the evolved value on the updated row...
    val batch = Seq((d0, Seq(7), 1, "up", "upsert"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    Maintenance.mergeInto(spark, t, batch)
    val cow = t.scan(spark).filter(col("doc_id") === d0).select("source", "lang").head
    assert(cow.getString(0) == "up" && cow.getString(1) == "en")
    // ...while a MoR upsert is a FULL-ROW replace: lang is null afterwards
    // (the documented O(batch) trade — never reads target values)
    Maintenance.mergeMor(spark, t, batch.withColumn("source", lit("up2")))
    val mor = t.scan(spark).filter(col("doc_id") === d0).select("source", "lang").head
    assert(mor.getString(0) == "up2" && mor.isNullAt(1))
    assert(t.scan(spark).count() == 1000)
  }

  // ---- stacked merge-on-read commits against a driver-side model ---------

  /** Six MoR merges over the same keys — update, delete, re-insert, delete
    * again — on `t`, each checked against a driver-side last-write-wins
    * model: the full scan, point lookups, and the changelog from the
    * previous snapshot; then materializeDeletes must keep the model's state
    * and retire every key file. An upsert replaces the full row (an evolved
    * column reads null after it). Batch rows cycle three sources, so an
    * identity-partitioned table gets files in several partition directories
    * per commit, one of them with an escaped name. Returns the Spark jobs
    * of a full scan through 2 and through 6 pending commits, and the
    * snapshot with all six pending. */
  private def stackedMorMatchesModel(t: TokenTable): (Int, Int, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.graftbridge.JobCounter
    import graft.table.Changelog
    val cols = t.schema.fieldNames.toSeq
    def state(df: DataFrame): Map[String, Row] =
      df.select(cols.map(col): _*).collect().map(r => r.getString(0) -> r).toMap
    val ids = t.scan(spark).select("doc_id").collect().map(_.getString(0)).sorted
    val keys = ids.indices.by(ids.length / 12).take(12).map(ids(_))
    val fresh = (0 until 4).map(i => s"new-$i")
    // (upserts, deletes) per commit
    val commits = Seq(
      (keys.slice(0, 8) ++ fresh, Seq.empty),
      (keys.slice(4, 8), keys.slice(0, 4)),
      (keys.slice(0, 2), fresh.slice(0, 2)),
      (keys.slice(8, 12), keys.slice(0, 1)),
      (fresh.slice(0, 1), keys.slice(8, 10)),
      (keys.slice(0, 4), keys.slice(4, 6)))
    def fullScanJobs(): Int = JobCounter.jobsOf(spark.sparkContext)(checksum(t.scan(spark)))._2
    var model = state(t.scan(spark))
    var jobs = Map.empty[Int, Int]
    commits.zipWithIndex.foreach { case ((ups, dels), k) =>
      // the third source needs escaping as a partition directory name
      val sources = Seq("web", "code", "a b=c%d")
      val rows = ups.zipWithIndex.map { case (d, i) =>
        (d, Seq(k, i, k + i), 3, sources((k + i) % 3), "upsert") } ++
        dels.map(d => (d, Seq(0), 1, "web", "delete"))
      val batch = {
        import spark.implicits._
        rows.toDF("doc_id", "tokens", "n_tok", "source", "_op")
      }
      val upserted = cols.filterNot(batch.columns.contains)
        .foldLeft(batch.filter(col("_op") === "upsert"))((b, c) => b.withColumn(c, lit(null)))
      val prev = t.metadata.currentSnapshotId
      val before = model
      model = model -- dels ++ state(upserted)
      Maintenance.mergeMor(spark, t, batch)
      val label = s"after commit ${k + 1}"
      assert(state(t.scan(spark)) == model, s"scan $label")
      (ups.take(2) ++ dels.take(2)).foreach { d =>
        assert(state(t.lookup(spark, d)).get(d) == model.get(d), s"lookup($d) $label")
      }
      val changes = Changelog.changesBetween(spark, t, prev)
        .collect().map(r => (r.getAs[String](Changelog.ChangeTypeCol),
          Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c)))))).toSet
      val expected = (before.keySet ++ model.keySet).toSeq.flatMap { d =>
        if (before.get(d) == model.get(d)) Seq.empty
        else before.get(d).map("delete" -> _).toSeq ++ model.get(d).map("insert" -> _)
      }.toSet
      assert(changes == expected, s"changelog $label")
      if (k + 1 == 2 || k + 1 == 6) jobs += (k + 1) -> fullScanJobs()
    }
    assert(t.deleteEntries(t.metadata.currentSnapshot.get).size == commits.size)
    val pending = t.metadata.currentSnapshotId
    Maintenance.materializeDeletes(spark, t)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty), "key files left pending")
    assert(state(t.scan(spark)) == model, "scan after materializeDeletes")
    assert(Changelog.changesBetween(spark, t, pending).isEmpty, "materializeDeletes changed rows")
    (jobs(2), jobs(6), pending.get)
  }

  test("stacked MoR commits equal a last-write-wins model; scan jobs do not grow with pending commits") {
    val (at2, at6, _) = stackedMorMatchesModel(fresh("mor-model"))
    assert(at2 == at6, s"full scan: $at2 jobs through 2 pending commits, $at6 through 6")
  }

  test("stacked MoR model check on an identity-partitioned table (part-file names repeat)") {
    val t = TokenTable.create(spark, tmpDir("mor-model-part") + "/tbl",
      partitionSpec = Seq(graft.table.PartitionField("source", "identity")))
    t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 600).repartition(2), "seed"))
    val names = t.liveFiles().map(f => new org.apache.hadoop.fs.Path(f.path).getName)
    assert(names.distinct.size < names.size, s"no repeated part-file name: $names")
    stackedMorMatchesModel(t)
  }

  test("stacked MoR model check on a schema-evolved table (two schema groups per read)") {
    val t = fresh("mor-model-evolved")
    t.evolveSchema(Seq(graft.table.AddColumn("lang", "STRING")))
    t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 50, seed = 9L)
      .withColumn("doc_id", concat(lit("evolved-"), col("doc_id"))).withColumn("lang", lit("en")),
      "evolved-append"))
    val (_, _, pending) = stackedMorMatchesModel(t)
    assert(t.liveFiles(Some(pending)).map(_.schemaIdOr0).distinct.size == 2)
  }

  test("merge_mor runs from the YAML pipeline DSL") {
    val t = fresh("mor-dsl")
    val b = batch(t)
    val res = graft.plans.PipelineRunner.run(spark, t,
      graft.plans.PipelineDsl.parse("- implementation: merge_mor\n"),
      mergeBatch = Some(b))
    assert(res.head.snapshotId.nonEmpty)
    assert(t.scan(spark).filter(col("source") === "upd").count() > 0)
  }
}
