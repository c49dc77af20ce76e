package graft

import org.apache.spark.graftbridge.JobCounter

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.{DataFileMeta, TokenTable}

/** Commit-path manifest handling at tens of thousands of entries: the
  * touched-manifest rewrite runs on the driver's cores with no Spark job
  * and keeps the metadata semantics (replaced entries gone, everything
  * else carried, conflict validation intact). */
class ManifestScaleSpec extends SparkSpec {

  private def syntheticEntry(i: Int): DataFileMeta = {
    val id = f"doc$i%012d"
    DataFileMeta(
      path = s"data/fake/$id.parquet", records = 10, bytes = 1000,
      minDocId = id, maxDocId = id, minNTok = 16, maxNTok = 512,
      sumNTok = 1000L, sources = Seq("web"))
  }

  /** A table whose current snapshot has `nManifests` manifests of
    * `perManifest` synthetic entries each (metadata-only fabrication — no
    * data files are written, and none are read by the asserts). */
  private def fabricate(nManifests: Int, perManifest: Int): TokenTable = {
    val t = TokenTable.create(spark, tmpDir("manifests") + "/tbl")
    val entries = (0 until nManifests * perManifest).map(syntheticEntry)
    t.commit("append", entries)
    Maintenance.rewriteManifests(t, entriesPerManifest = perManifest)
    assert(t.metadata.currentSnapshot.get.manifests.size == nManifests)
    t
  }

  // The name predates the driver-only body: the rewrite is now spread over
  // the driver's cores, not over Spark tasks, and the test asserts 0 jobs.
  test("distributed rewrite: 50k entries across 100 manifests, one replaced each") {
    val t = fabricate(nManifests = 100, perManifest = 500)
    val before = t.liveFiles().map(_.path).toSet
    assert(before.size == 50000)
    // replace one entry from every manifest (forces reading ALL of them —
    // the hull spans everything) plus add one fresh file
    val victims = (0 until 100).map(g => syntheticEntry(g * 500).path).toSet
    val added = Seq(syntheticEntry(999999))
    val t0 = System.nanoTime()
    val (_, jobs) = JobCounter.jobsOf(spark.sparkContext)(t.commit("compact", added, victims,
      replacedRange = Some(("doc000000000000", "doc000000999999"))))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(jobs == 0, s"the commit ran $jobs Spark jobs")
    val after = t.liveFiles().map(_.path).toSet
    assert(after == before -- victims ++ added.map(_.path))
    assert(after.size == 50000 - 100 + 1)
    // commit stays snappy at this scale (very loose bound: the old path was
    // a single-threaded parse+rewrite of 50k JSON entries)
    assert(sec < 60.0, f"commit took $sec%.1fs")
  }

  test("conflict validation holds on a 20k-entry rewrite") {
    val t = fabricate(nManifests = 40, perManifest = 500)
    intercept[graft.table.CommitConflictException] {
      t.commit("compact", Seq.empty,
        replaced = Set("data/fake/does-not-exist.parquet"),
        replacedRange = Some(("doc000000000000", "doc000000999999")))
    }
  }

  test("below the threshold the driver path still works (small table e2e)") {
    val t = SequenceGen.createTable(spark, tmpDir("manifests-small") + "/tbl", 500, 4)
    val before = t.scan(spark).count()
    Maintenance.compact(spark, t, targetFileBytes = 16 << 20,
      smallFileThreshold = Some(64 << 20))
    assert(t.scan(spark).count() == before)
  }
}
