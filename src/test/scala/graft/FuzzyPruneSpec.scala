package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance

/** mergeFuzzy's literal-prefix pruning: anchored-literal patterns rewrite
  * only the files their prefix range can touch; unanchored patterns fall
  * back to the full rewrite; content is identical either way. */
class FuzzyPruneSpec extends SparkSpec {
  import spark.implicits._

  test("literalPrefix extraction") {
    assert(Maintenance.literalPrefix("^doc00042") == Some("doc00042"))
    assert(Maintenance.literalPrefix("^doc0004[0-9]x") == Some("doc0004"))
    assert(Maintenance.literalPrefix("^abc.*") == Some("abc"))
    // a quantifier makes the preceding char optional
    assert(Maintenance.literalPrefix("^abcx*") == Some("abc"))
    assert(Maintenance.literalPrefix("^abcx?") == Some("abc"))
    assert(Maintenance.literalPrefix("doc00042") == None) // unanchored
    assert(Maintenance.literalPrefix("^.*doc") == None)
    // top-level alternation: the anchor binds only the first branch — the
    // second matches anywhere, so NO prefix may be claimed (silent-data-loss
    // guard); nested alternation after the prefix is safe
    assert(Maintenance.literalPrefix("^doc1|doc9") == None)
    assert(Maintenance.literalPrefix("^doc(1|9)") == Some("doc"))
    assert(Maintenance.literalPrefix("^doc[|]x") == Some("doc"))
    assert(Maintenance.literalPrefix("^doc\\|x") == Some("doc"))
    assert(Maintenance.prefixSuccessor("abc") == Some("abd"))
    assert(Maintenance.prefixSuccessor("ab" + Char.MaxValue) == Some("ac"))
    assert(Maintenance.prefixSuccessor(s"${Char.MaxValue}") == None)
  }

  test("anchored-prefix fuzzy merge prunes untouched files, full scan result identical") {
    val rootA = tmpDir("graft-fuzzy-a")
    // doc ids are doc<12 digits>: cluster by doc_id so files have tight ranges
    val t = SequenceGen.createTable(spark, s"$rootA/tbl", nDocs = 400, nFiles = 8)
    Maintenance.compact(spark, t, graft.maintenance.SortBy(Seq("doc_id")),
      targetFileBytes = 64 * 1024, smallFileThreshold = None, chunks = 1)
    val nFilesBefore = t.liveFiles().size
    val before = t.scan(spark).select("doc_id", "n_tok").as[(String, Int)].collect().toMap

    val batch = Seq(("^doc0000000000[0-4].", Seq(1, 2, 3), 3, "patched"))
      .toDF("doc_pattern", "tokens", "n_tok", "source")
    val snap = Maintenance.mergeFuzzy(spark, t, batch, targetFileBytes = 64 * 1024).get
    assert(snap.summary("rule") == "fuzzy")
    val touched = snap.summary("touched-files").toInt
    val pruned = snap.summary("pruned-files").toInt
    assert(touched + pruned == nFilesBefore)
    assert(pruned > 0, s"expected pruning with a tight anchored prefix, got $snap")

    val after = t.scan(spark).select("doc_id", "n_tok", "source")
      .as[(String, Int, String)].collect()
    assert(after.length == before.size) // never inserts, never drops
    after.foreach { case (id, nTok, src) =>
      if (id.matches("^doc0000000000[0-4].*")) {
        assert(nTok == 3 && src == "patched", s"$id not patched")
      } else {
        assert(nTok == before(id), s"$id changed outside the pattern")
      }
    }
  }

  test("unanchored pattern falls back to rewriting every file") {
    val root = tmpDir("graft-fuzzy-b")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 4)
    val batch = Seq(("0000000042$", Seq(9), 1, "tail"))
      .toDF("doc_pattern", "tokens", "n_tok", "source")
    val snap = Maintenance.mergeFuzzy(spark, t, batch).get
    assert(snap.summary("pruned-files").toInt == 0)
    val hit = t.scan(spark).filter(col("source") === "tail")
      .select("doc_id").as[String].collect()
    assert(hit.toSeq == Seq("doc000000000042"))
  }

  test("a fuzzy batch no file can match commits nothing") {
    val t = SequenceGen.createTable(spark, tmpDir("graft-fuzzy-c") + "/tbl", nDocs = 100, nFiles = 4)
    val before = t.metadata.currentSnapshotId
    // every doc_id starts with "doc", so the literal prefix prunes every file
    val batch = Seq(("^zzz", Seq(9), 1, "none")).toDF("doc_pattern", "tokens", "n_tok", "source")
    assert(Maintenance.mergeFuzzy(spark, t, batch).isEmpty)
    assert(t.refresh().currentSnapshotId == before)
  }
}
