package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance._
import graft.maintenance.Maintenance.{DocIdBetween, deleteWhere, deleteWhereMor}
import graft.streaming.Incremental
import graft.table.{CommitConflictException, TokenTable}

/** Every file-rewriting operation runs through `Maintenance.rewrite`: it
  * resumes from its ledger after a crash between stage and commit, and its
  * staging never touches another writer's committed output. */
class RewriteSpec extends SparkSpec {
  import spark.implicits._

  private def table(tag: String): TokenTable =
    SequenceGen.createTable(spark, tmpDir(tag) + "/tbl", nDocs = 600, nFiles = 6)

  /** (rows, distinct doc_ids, order-independent content hash). */
  private def fingerprint(t: TokenTable): (Long, Long, Long) = {
    val r = t.scan(spark).agg(count(lit(1)), countDistinct(col("doc_id")),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source")))).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private lazy val mergeBatch = {
    val ids = (0 until 600 by 15).map(i => f"doc$i%012d") ++ (0 until 10).map(i => s"new-$i")
    (ids.zipWithIndex.map { case (d, i) => (d, Seq(i, 7), 2, "merged", "upsert") } ++
      (5 until 600 by 97).map(i => (f"doc$i%012d", Seq(0), 1, "merged", "delete")))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
  }

  private lazy val fuzzyBatch = Seq(("^doc0000000001", Seq(4, 2), 2, "fuzzy"))
    .toDF("doc_pattern", "tokens", "n_tok", "source")

  private val middle = DocIdBetween("doc000000000150", "doc000000000449")

  /** One row per rewriting operation: how many rewrite units it stages,
    * the run itself, and any state the run needs first. */
  private case class Op(
      name: String,
      run: TokenTable => Unit,
      units: TokenTable => Int = _ => 1,
      prepare: TokenTable => Unit = _ => ())

  private def compactTarget(t: TokenTable): Long = t.liveFiles().map(_.bytes).sum / 3

  private val ops = Seq(
    Op("compact",
      t => Maintenance.compact(spark, t, targetFileBytes = compactTarget(t),
        smallFileThreshold = Some(1L << 30), chunks = 2),
      units = t => math.min(2, Maintenance.binPack(t.liveFiles(), compactTarget(t)).size)),
    Op("cluster", t => Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "n_tok")))),
    Op("mergeInto", t => Maintenance.mergeInto(spark, t, mergeBatch)),
    Op("mergeFuzzy", t => Maintenance.mergeFuzzy(spark, t, fuzzyBatch)),
    Op("deleteWhere", t => deleteWhere(spark, t, middle)),
    Op("materializeDeletes", t => Maintenance.materializeDeletes(spark, t),
      prepare = t => deleteWhereMor(spark, t, middle)),
    Op("compactTick", t => Incremental.compactTick(spark, t)))

  ops.foreach { op =>
    test(s"${op.name} resumes from its ledger after a crash at the last rewrite.after-unit") {
      val uncrashed = table(s"resume-${op.name}-a")
      op.prepare(uncrashed)
      op.run(uncrashed)
      val expected = fingerprint(uncrashed)
      assert(expected._1 == expected._2, s"uncrashed ${op.name} duplicated a doc_id")

      val t = table(s"resume-${op.name}-b")
      op.prepare(t)
      val units = op.units(t)
      if (op.name == "compact") assert(units == 2, "fixture must stage two compact units")
      val planned = t.metadata.currentSnapshotId
      val existing = t.listDataFiles().toSet
      Failpoints.armAt("rewrite.after-unit", units)
      try intercept[Failpoints.InjectedFailure](op.run(t))
      finally Failpoints.reset()
      assert(t.refresh().currentSnapshotId == planned, "the crashed run committed")
      def mtime(p: String) = t.fs.getFileStatus(new Path(t.root, p)).getModificationTime
      val staged = (t.listDataFiles().toSet -- existing).map(p => p -> mtime(p)).toMap
      assert(staged.nonEmpty, "the crashed run staged nothing")

      op.run(t)
      assert(fingerprint(t) == expected, s"resumed ${op.name} differs from an uncrashed run")
      val live = t.liveFiles(t.refresh()).map(_.path).toSet
      assert(staged.keySet.subsetOf(live), "the rerun did not commit the staged files")
      assert(t.listDataFiles().toSet -- existing == staged.keySet, "the rerun staged again")
      staged.foreach { case (p, m) => assert(mtime(p) == m, s"$p was rewritten on resume") }
      val ledger = new Path(t.metadataDir, "ledger")
      assert(!t.fs.exists(ledger) || t.fs.listStatus(ledger).isEmpty, "ledger left after commit")
    }
  }

  Seq[(String, TokenTable => Unit)](
    "compact" -> (t => Maintenance.compact(spark, t, smallFileThreshold = Some(1L << 30))),
    "mergeInto" -> (t => Maintenance.mergeInto(spark, t, mergeBatch))).foreach { case (name, run) =>
    test(s"a stale handle's $name conflicts without deleting the committed output of the same step") {
      val a = table(s"stale-$name")
      // opened at the same snapshot: both handles plan the same step id
      val b = TokenTable.load(spark, a.root.toString)
      run(a)
      val committed = fingerprint(a)
      intercept[CommitConflictException](run(b))
      val missing = a.liveFiles(a.refresh()).map(_.path)
        .filterNot(p => a.fs.exists(new Path(a.root, p)))
      assert(missing.isEmpty, s"live files deleted: $missing")
      assert(fingerprint(a) == committed)
    }
  }
}
