package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.{Maintenance, SortBy}
import graft.table.TokenTable

/** Merge-on-read equality deletes: O(keys) commits, sequence-number
  * semantics (re-insert after delete survives; rewrites never resurrect),
  * materialization, GC safety, and CoW/MoR equivalence. */
class MorDeleteSpec extends SparkSpec {

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def fresh(n: Long = 3000, files: Int = 6): TokenTable =
    SequenceGen.createTable(spark, tmpDir("mor") + "/tbl", n, files)

  test("MoR delete matching zero rows commits nothing (no null-range key entry)") {
    val t = fresh(n = 100, files = 1)
    // stats-range intersects (doc ids are doc000000000000..099) but the
    // half-open gap between two real ids matches no row — the staged key
    // set is EMPTY, and an empty key file must never become a delete entry
    // (its null min/max would NPE every later range comparison)
    val snap = Maintenance.deleteWhereMor(spark, t,
      Maintenance.DocIdBetween("doc000000000000a", "doc000000000000z"))
    assert(snap.isEmpty, "zero-match MoR delete must be a no-op")
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    // table still fully scannable and intact
    assert(t.scan(spark).count() == 100)
  }

  test("a scanned file missing from the sequence map fails the read, never yields null") {
    val paths = spark.range(2).select(col("id"),
      concat(lit("file:/t/part-"), col("id").cast("string")).as("p"))
    val seqs = Map("file:/t/part-0" -> 7L)
    assert(paths.filter(col("id") === 0).select(TokenTable.sequenceOf(seqs, col("p")))
      .head.getLong(0) == 7L)
    val e = intercept[Exception](paths.select(TokenTable.sequenceOf(seqs, col("p"))).collect())
    assert(e.getMessage.contains("no commit sequence for scanned file file:/t/part-1"), e.getMessage)
  }

  test("MoR delete stages keys only (no data rewrite), scan applies the anti-join") {
    val t = fresh()
    val before = t.liveFiles().map(_.path).toSet
    val expected = checksum(t.scan(spark).filter(col("n_tok") <= 512))
    val snap = Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    assert(snap.nonEmpty)
    assert(t.liveFiles().map(_.path).toSet == before, "data files must be untouched")
    assert(t.metadata.currentSnapshot.exists(_.deletes.nonEmpty))
    assert(checksum(t.scan(spark)) == expected)
  }

  test("re-insert after MoR delete survives (higher sequence beats the delete)") {
    val t = fresh()
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    // re-insert two previously-deleted docs with short payloads
    val deletedIds = SequenceGen.sequences(spark, 3000)
      .filter(col("n_tok") > 512).select("doc_id").limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(deletedIds.size == 2)
    import spark.implicits._
    val reins = deletedIds.toDF("doc_id")
      .select(col("doc_id"), typedLit(Seq(1, 2, 3)).as("tokens"),
        lit(3).cast("int").as("n_tok"), lit("web").as("source"))
    t.commit("append", t.stageWrite(reins, "reinsert"))
    val got = t.scan(spark).filter(col("doc_id").isin(deletedIds: _*))
      .select("doc_id", "n_tok").collect()
    assert(got.length == 2 && got.forall(_.getInt(1) == 3),
      s"re-inserted rows must survive the older delete: ${got.toSeq}")
  }

  test("compaction reads through the delete (no resurrection) and time travel still works") {
    val t = fresh()
    val preDelete = t.metadata.currentSnapshotId.get
    val expected = checksum(t.scan(spark).filter(col("n_tok") <= 512))
    val all = checksum(t.scan(spark))
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    // full rewrite WITHOUT materializeDeletes: victims read through the
    // anti-join, rewritten files get fresh sequences — rows must not return
    Maintenance.compact(spark, t, SortBy(Seq("doc_id")),
      targetFileBytes = 4L * 1024 * 1024, smallFileThreshold = None)
    assert(checksum(t.scan(spark)) == expected, "compaction resurrected deleted rows")
    // the pre-delete snapshot still shows everything
    assert(checksum(t.scan(spark, snapshotId = Some(preDelete))) == all)
  }

  test("materializeDeletes rewrites only affected files and retires every key file") {
    val t = fresh()
    val expected = checksum(t.scan(spark).filter(col("n_tok") <= 512))
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    val snap = Maintenance.materializeDeletes(spark, t)
    assert(snap.nonEmpty)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    assert(checksum(t.scan(spark)) == expected)
    // idempotent: nothing pending
    assert(Maintenance.materializeDeletes(spark, t).isEmpty)
  }

  test("GC never removes a delete key file a retained snapshot still needs") {
    val t = fresh()
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    val expected = checksum(t.scan(spark))
    val removed = t.removeOrphans(0)
    assert(!removed.exists(_.contains("deletes/")),
      s"GC removed live delete key files: $removed")
    assert(checksum(t.scan(spark)) == expected)
  }

  test("two MoR deletes stack: both key sets apply, the carry keeps both manifests") {
    val t = fresh()
    val expected = checksum(t.scan(spark)
      .filter(col("n_tok") <= 512 && col("source") =!= "web"))
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    Maintenance.deleteWhereMor(spark, t, Maintenance.SourceIn(Set("web")))
    assert(checksum(t.scan(spark)) == expected)
    // both deletes retire together
    Maintenance.materializeDeletes(spark, t)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    assert(checksum(t.scan(spark)) == expected)
  }

  test("MERGE after a MoR delete reads through the anti-join and never resurrects") {
    val t = fresh()
    Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    val expected = checksum(t.scan(spark))
    // upsert a disjoint batch of new docs: the touched files rewrite through
    // readFiles (delete applied), untouched files keep anti-joining
    val batch = SequenceGen.sequences(spark, 100, 77)
      .withColumn("doc_id", concat(lit("zz"), col("doc_id")))
    Maintenance.mergeInto(spark, t, batch)
    val after = checksum(t.scan(spark))
    assert(after._1 == expected._1 + 100,
      s"merge resurrected deleted rows or lost data: $expected -> $after")
    assert(checksum(t.scan(spark).filter(col("n_tok") > 512 &&
      !col("doc_id").startsWith("zz")))._1 == 0L, "deleted stratum reappeared")
  }

  test("model check: random append/MoR-delete/compact/materialize interleavings match a map model") {
    // The sequence-number semantics under arbitrary interleaving, checked
    // against the obvious in-memory model: a Map(doc_id -> n_tok) where
    // append overwrites... no — append ADDS rows (CREATE semantics); this
    // model only appends FRESH ids or ids it has deleted, so the map stays
    // exact. Deletes remove matching entries; compact/materialize must be
    // invisible to the model.
    val rng = new scala.util.Random(20260817L)
    (1 to 3).foreach { round =>
      val t = TokenTable.create(spark, tmpDir(s"mor-model-$round") + "/tbl")
      var model = Map.empty[String, Int]
      var nextId = 0
      def freshBatch(n: Int, nTokOf: Int => Int): Seq[(String, Int)] =
        (0 until n).map { _ =>
          nextId += 1; (f"doc$nextId%06d", nTokOf(nextId))
        }
      def append(rows: Seq[(String, Int)]): Unit = {
        import spark.implicits._
        val df = rows.toDF("doc_id", "n_tok")
          .select(col("doc_id"),
            transform(sequence(lit(1), col("n_tok")), j => j).as("tokens"),
            col("n_tok").cast("int").as("n_tok"), lit("web").as("source"))
        t.commit("append", t.stageWrite(df, s"b${t.currentVersion()}"))
        model ++= rows
      }
      append(freshBatch(300, id => 10 + id % 90))
      (1 to 7).foreach { _ =>
        rng.nextInt(4) match {
          case 0 => // fresh rows, some re-using DELETED id space via fresh ids
            append(freshBatch(50, id => 10 + id % 90))
          case 1 => // MoR delete a stratum; re-insert half of it with new n_tok
            val cut = 10 + rng.nextInt(80)
            Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(cut))
            val deleted = model.filter(_._2 > cut).keys.toSeq.sorted
            model = model.filter(_._2 <= cut)
            val reins = deleted.take(deleted.size / 2).map(id => (id, 5 + rng.nextInt(4)))
            if (reins.nonEmpty) append(reins)
          case 2 =>
            Maintenance.compact(spark, t, SortBy(Seq("doc_id")),
              targetFileBytes = 4L * 1024 * 1024, smallFileThreshold = None)
          case 3 =>
            Maintenance.materializeDeletes(spark, t)
        }
        val got = t.scan(spark).select("doc_id", "n_tok").collect()
          .map(r => r.getString(0) -> r.getInt(1)).toMap
        assert(got == model,
          s"round $round diverged: extra=${(got.keySet -- model.keySet).take(5)} " +
            s"missing=${(model.keySet -- got.keySet).take(5)} " +
            s"mismatched=${model.collect { case (k, v) if got.get(k).exists(_ != v) => k }.take(5)}")
      }
    }
  }

  test("CoW deleteWhere and MoR deleteWhereMor agree row-for-row") {
    val t1 = fresh(); val t2 = fresh()
    Maintenance.deleteWhere(spark, t1, Maintenance.NTokGreaterThan(512))
    Maintenance.deleteWhereMor(spark, t2, Maintenance.NTokGreaterThan(512))
    assert(checksum(t1.scan(spark)) == checksum(t2.scan(spark)))
    // and after materialization the MoR table is anti-join-free again
    Maintenance.materializeDeletes(spark, t2)
    assert(checksum(t1.scan(spark)) == checksum(t2.scan(spark)))
  }
}
