package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graftbridge.JobCounter

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.{DataFileMeta, TokenTable}

/** Reachability GC: manifest entry parsing, data/ listing, orphan
  * subtraction and deletion run on the driver at every table size, with
  * no Spark job, and never touch a reachable or ledger-protected file. */
class GcScaleSpec extends SparkSpec {

  private def entry(prefix: String, i: Int): DataFileMeta = {
    val id = f"doc$i%012d"
    DataFileMeta(
      path = s"data/$prefix/$id.parquet", records = 10, bytes = 10,
      minDocId = id, maxDocId = id, minNTok = 16, maxNTok = 512,
      sumNTok = 100L, sources = Seq("web"))
  }

  /** A table whose current snapshot references `nReachable` REAL (empty)
    * files spread over `nManifests` manifests, plus `nOrphans` real files no
    * snapshot references. Files are fabricated via java.nio (content is
    * never read by GC — reachability is pure path algebra). */
  private def fabricate(
      root: String, nReachable: Int, nOrphans: Int, nManifests: Int): TokenTable = {
    val t = TokenTable.create(spark, root)
    val entries = (0 until nReachable).map(entry("live", _))
    (entries.map(_.path) ++ (0 until nOrphans).map(entry("orphan", _).path)).foreach { rel =>
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.createFile(p)
    }
    t.commit("append", entries)
    Maintenance.rewriteManifests(t, entriesPerManifest = nReachable / nManifests)
    t
  }

  test("GC of 30k reachable + 3k orphans runs on the driver in 0 Spark jobs") {
    val root = tmpDir("gc-scale") + "/tbl"
    val t = fabricate(root, nReachable = 30000, nOrphans = 3000, nManifests = 30)
    assert(t.metadata.currentSnapshot.get.manifests.size == 30)
    val t0 = System.nanoTime()
    val (dead, jobs) = JobCounter.jobsOf(spark.sparkContext)(t.removeOrphans(0))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(jobs == 0, s"GC ran $jobs Spark jobs")
    val deadData = dead.filter(_.startsWith("data/"))
    assert(deadData.size == 3000, s"deleted ${deadData.size} orphans")
    assert(deadData.forall(_.startsWith("data/orphan/")))
    // every reachable file survived — the invariant GC must never break
    assert(Files.list(Paths.get(root, "data/live")).count() == 30000)
    assert(!Files.exists(Paths.get(root, "data/orphan")) ||
      Files.list(Paths.get(root, "data/orphan")).count() == 0)
    assert(sec < 60.0, f"GC took $sec%.1fs")
    // second run is a no-op
    assert(t.removeOrphans(0).forall(!_.startsWith("data/")))
  }

  test("stale crashed-run ledgers are swept; the current snapshot's survive") {
    val root = tmpDir("gc-ledger") + "/tbl"
    val t = SequenceGen.createTable(spark, root, 300, 2)
    val cur = t.metadata.currentSnapshotId.get
    def mkLedger(stepId: String): Unit = {
      val p = Paths.get(root, s"metadata/ledger/$stepId")
      Files.createDirectories(p)
      Files.writeString(p.resolve("unit.json"), "[]")
    }
    mkLedger(s"compact-snap${cur - 1}-dead")   // abandoned: planned pre-current
    mkLedger(s"merge-snap0-aa-bb")             // abandoned: ancient
    mkLedger(s"compact-snap$cur-live")         // resumable: planned at current
    val dead = t.removeOrphans(0)
    assert(dead.contains(s"metadata/ledger/compact-snap${cur - 1}-dead"))
    assert(dead.contains("metadata/ledger/merge-snap0-aa-bb"))
    assert(!Files.exists(Paths.get(root, s"metadata/ledger/compact-snap${cur - 1}-dead")))
    assert(Files.exists(Paths.get(root, s"metadata/ledger/compact-snap$cur-live")),
      "GC must not sweep a ledger that a crashed run at the CURRENT snapshot can resume")
  }

  test("GC never deletes staged files recorded by a resumable ledger") {
    val root = tmpDir("gc-ledger-files") + "/tbl"
    val t = SequenceGen.createTable(spark, root, 300, 2)
    val cur = t.metadata.currentSnapshotId.get
    // a crashed compact planned at the CURRENT snapshot: its ledger records
    // a staged output no snapshot references yet; resume reuses the path
    // verbatim, so GC must treat it as reachable even past the grace window
    val stepId = s"compact-snap$cur-crashed"
    val staged = entry(s"$stepId/chunk-0", 0)
    val p = Paths.get(root, staged.path)
    Files.createDirectories(p.getParent)
    Files.createFile(p)
    new graft.maintenance.Ledger(t, stepId).record("chunk-0", Seq(staged))
    val dead = t.removeOrphans(0)
    assert(!dead.contains(staged.path), "GC deleted a resumable ledger's staged output")
    assert(Files.exists(p))
    // signed-checkpoint tables: the protection must read through the HMAC
    // envelope (GC strips, resume verifies)
    val key = java.util.Base64.getEncoder.encodeToString("gc-test-key".getBytes)
    t.updateProperties(Map("checkpoint.hmac-key-base64" -> key))
    val stepId2 = s"merge-snap$cur-signed"
    val staged2 = entry(s"$stepId2/chunk-0", 1)
    val p2 = Paths.get(root, staged2.path)
    Files.createDirectories(p2.getParent)
    Files.createFile(p2)
    new graft.maintenance.Ledger(t, stepId2).record("chunk-0", Seq(staged2))
    assert(!t.removeOrphans(0).contains(staged2.path))
    assert(Files.exists(p2))
  }

  test("unparseable unit of a resumable ledger protects its whole staging prefix") {
    val root = tmpDir("gc-ledger-corrupt") + "/tbl"
    val t = SequenceGen.createTable(spark, root, 300, 2)
    val cur = t.metadata.currentSnapshotId.get
    // a resumable ledger whose single unit blob is truncated garbage: GC
    // reads no unit and keeps the ledger's whole data/<stepId>/ staging
    // prefix — deleting any of it while GC keeps the ledger leaves the
    // resume dangling
    val stepId = s"compact-snap$cur-corrupt"
    val ledgerP = Paths.get(root, s"metadata/ledger/$stepId")
    Files.createDirectories(ledgerP)
    Files.writeString(ledgerP.resolve("chunk-0.json"), """[{"path":"data/trunc""")
    val staged = entry(s"$stepId/chunk-0", 0)
    val p = Paths.get(root, staged.path)
    Files.createDirectories(p.getParent)
    Files.createFile(p)
    val dead = t.removeOrphans(0)
    assert(!dead.contains(staged.path),
      "GC deleted staged output recorded only in a corrupt (unparseable) unit")
    assert(Files.exists(p))
  }

  test("on a table with no snapshot, a resumable snap0 ledger keeps its staged files") {
    val root = tmpDir("gc-ledger-nosnap") + "/tbl"
    val t = TokenTable.create(spark, root)
    // a merge into a just-created table plans at snapshot id 0; crashed
    // after staging a unit, its ledger is resumable until the first commit
    val stepId = "merge-snap0-crashed"
    val staged = entry(s"$stepId/chunk-0-attempt", 0)
    val p = Paths.get(root, staged.path)
    Files.createDirectories(p.getParent)
    Files.createFile(p)
    new graft.maintenance.Ledger(t, stepId).record("chunk-0", Seq(staged))
    assert(!t.removeOrphans(0).contains(staged.path), "GC deleted a resumable ledger's staged output")
    assert(Files.exists(p))
    assert(Files.exists(Paths.get(root, s"metadata/ledger/$stepId")))
    // a file no ledger covers is still an orphan
    val stray = Paths.get(root, entry("stray", 1).path)
    Files.createDirectories(stray.getParent)
    Files.createFile(stray)
    assert(t.orphanFiles(0) == Seq(entry("stray", 1).path))
  }

  test("a ledger records only files under its step's staging prefix") {
    val t = TokenTable.create(spark, tmpDir("gc-ledger-record") + "/tbl")
    val ledger = new graft.maintenance.Ledger(t, "compact-snap0-x")
    assert(ledger.stagingJobId("chunk-0").startsWith("compact-snap0-x/chunk-0-"))
    val e = intercept[IllegalArgumentException](
      ledger.record("chunk-0", Seq(entry("compact-snap0-xy/chunk-0", 0))))
    assert(e.getMessage.contains("data/compact-snap0-x/"))
    assert(ledger.completedUnits().isEmpty)
    ledger.record("chunk-0", Seq(entry("compact-snap0-x/chunk-0-1", 0)))
    assert(ledger.completedUnits().keySet == Set("chunk-0"))
  }

  test("grace window: fresh files and ledgers survive default GC; aged ones are swept") {
    val root = tmpDir("gc-grace") + "/tbl"
    val t = fabricate(root, nReachable = 50, nOrphans = 5, nManifests = 1)
    val cur = t.metadata.currentSnapshotId.get
    val staleLedger = Paths.get(root, s"metadata/ledger/compact-snap${cur - 1}-x")
    Files.createDirectories(staleLedger)
    Files.writeString(staleLedger.resolve("unit.json"), "[]")
    // everything is seconds old: an in-flight writer's staged files / a
    // crashed run's resume state look exactly like this, so the default
    // grace window must protect all of it
    val fresh = t.removeOrphans()
    assert(!fresh.exists(_.startsWith("data/")), s"default GC deleted fresh files: $fresh")
    assert(Files.list(Paths.get(root, "data/orphan")).count() == 5)
    assert(Files.exists(staleLedger))
    // an aged ledger DIRECTORY with a fresh child is still live: object
    // stores never touch a "directory" entry on child writes, so liveness
    // keys off the newest child — a sweep here would kill an active run
    val old = java.nio.file.attribute.FileTime.fromMillis(1000L)
    Files.setLastModifiedTime(staleLedger, old)
    assert(!t.removeOrphans().contains(s"metadata/ledger/compact-snap${cur - 1}-x"))
    assert(Files.exists(staleLedger),
      "GC swept a stale-dir/fresh-child ledger (directory-mtime reasoning)")
    // age everything past the window — children included; the same pass now
    // sweeps it
    Files.list(Paths.get(root, "data/orphan")).forEach(Files.setLastModifiedTime(_, old))
    Files.setLastModifiedTime(staleLedger.resolve("unit.json"), old)
    Files.setLastModifiedTime(staleLedger, old)
    val dead = t.removeOrphans()
    assert(dead.count(_.startsWith("data/")) == 5, s"aged orphans not swept: $dead")
    assert(dead.contains(s"metadata/ledger/compact-snap${cur - 1}-x"))
    assert(Files.list(Paths.get(root, "data/live")).count() == 50)
  }

  test("GC never deletes pending MoR delete-key files") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("gc-mor") + "/tbl"
    val t = SequenceGen.createTable(spark, root, 1200, 3)
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    Maintenance.deleteWhereMor(spark, t, Maintenance.DocIdBetween(d0, d0))
    val before = t.scan(spark).count()
    t.removeOrphans(0)
    assert(t.scan(spark).count() == before, "GC broke the pending-delete anti-join")
    assert(t.metadata.currentSnapshot.get.deletes.nonEmpty)
  }
}
