package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.TokenTable

/** Merge-on-read MERGE: O(batch) commits (keys + append, never a rewrite)
  * that must converge to exactly the copy-on-write result on a unique-key
  * table, across stacked batches, deletes, re-inserts and compaction. */
class MorMergeSpec extends SparkSpec {

  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
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
    } finally reader.close()
    // and the merge still equals the copy-on-write result
    val tCow = fresh("mor-one-file-cow")
    Maintenance.mergeInto(spark, tCow, b)
    assert(checksum(t.scan(spark)) == checksum(tCow.scan(spark)))
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
