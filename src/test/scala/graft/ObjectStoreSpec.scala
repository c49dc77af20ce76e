package graft

import org.apache.hadoop.fs.Path

import graft.gen.SequenceGen
import graft.maintenance._
import graft.table.TokenTable

/** The checkpoint object-store stack: FS atomicity, namespacing, HMAC
  * signing, and the end-to-end guarantee — a tampered ledger unit or stream
  * cursor fails verification on resume instead of steering it. */
class ObjectStoreSpec extends SparkSpec {

  private val keyB64 = java.util.Base64.getEncoder.encodeToString(
    "graft-test-secret".getBytes("UTF-8"))

  private def fsStore(dir: String): FsObjectStore = {
    val root = new Path(tmpDir(dir))
    new FsObjectStore(root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  test("fs store: put/get/delete/list round-trip; tmp files never listed") {
    val s = fsStore("os-fs")
    assert(s.get("a/b.json").isEmpty)
    s.put("a/b.json", "hello".getBytes("UTF-8"))
    s.put("a/c.json", "world".getBytes("UTF-8"))
    assert(new String(s.get("a/b.json").get, "UTF-8") == "hello")
    assert(s.list("a").toSet == Set("a/b.json", "a/c.json"))
    s.put("a/b.json", "hello2".getBytes("UTF-8")) // overwrite via rename
    assert(new String(s.get("a/b.json").get, "UTF-8") == "hello2")
    s.delete("a/b.json")
    assert(s.get("a/b.json").isEmpty)
    s.deleteAll("a")
    assert(s.list("a").isEmpty)
  }

  test("namespaced store scopes keys both ways") {
    val base = fsStore("os-ns")
    val ns = base.namespaced("job-7")
    ns.put("unit.json", "x".getBytes("UTF-8"))
    assert(base.get("job-7/unit.json").nonEmpty)
    assert(ns.list("").map(_.stripPrefix("/")).contains("unit.json") ||
      ns.list("").contains("/unit.json") || base.list("job-7") == Seq("job-7/unit.json"))
  }

  test("signed store: versioned wire format; unsigned legacy blob gets the migration error") {
    val base = fsStore("os-versioned")
    val signer = HmacSigner.fromBase64(keyB64)
    val s = base.signed(signer)
    s.put("cp.json", "state".getBytes("UTF-8"))
    // on-disk blob is self-describing: hmac1: prefix
    assert(new String(base.get("cp.json").get.take(6), "UTF-8") == "hmac1:")
    // a pre-signing blob (key enabled mid-life) fails with the migration
    // message, NOT a tamper alarm
    base.put("legacy.json", """{"cursor": 42}""".getBytes("UTF-8"))
    val e = intercept[InvalidSignatureException] { s.get("legacy.json") }
    assert(e.getMessage.contains("not in signed format"))
    assert(e.getMessage.contains("not tampering"))
    // the prefixless round-4 SIGNED format still verifies (old signed blobs
    // survive the wire-format upgrade)
    val r4 = signer.sign("old-blob".getBytes("UTF-8"))
      .drop(HmacSigner.VersionPrefix.length)
    base.put("r4.json", r4)
    assert(new String(s.get("r4.json").get, "UTF-8") == "old-blob")
  }

  test("signed store: round-trip ok, tampered blob and wrong key fail loudly") {
    val base = fsStore("os-signed")
    val signer = HmacSigner.fromBase64(keyB64)
    val s = base.signed(signer)
    s.put("cp.json", "checkpoint-state".getBytes("UTF-8"))
    assert(new String(s.get("cp.json").get, "UTF-8") == "checkpoint-state")
    // tamper with the payload underneath the signature
    val raw = base.get("cp.json").get
    raw(raw.length - 1) = (raw(raw.length - 1) ^ 0x1).toByte
    base.put("cp.json", raw)
    intercept[InvalidSignatureException] { s.get("cp.json") }
    // a different key must also fail
    s.put("cp2.json", "other".getBytes("UTF-8"))
    val wrong = base.signed(HmacSigner.fromBase64(
      java.util.Base64.getEncoder.encodeToString("not-the-key".getBytes("UTF-8"))))
    intercept[InvalidSignatureException] { wrong.get("cp2.json") }
    // truncation / garbage is malformed, not an index crash
    base.put("cp3.json", "no-newline-here".getBytes("UTF-8"))
    intercept[InvalidSignatureException] { s.get("cp3.json") }
  }

  test("signed table checkpoints: tampered ledger unit fails the resume read") {
    val t = TokenTable.create(spark, tmpDir("os-table") + "/tbl",
      properties = Map(ObjectStore.HmacKeyProperty -> keyB64))
    t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 200), "seed"))
    val ledger = new Ledger(t, "step-x")
    ledger.record("unit-0", t.stageWrite(t.scan(spark), ledger.stagingJobId("unit-0")))
    assert(ledger.completedUnits().keySet == Set("unit-0"))
    // flip one byte of the stored blob, bypassing the store
    val p = new Path(t.metadataDir, "ledger/step-x/unit-0.json")
    val raw = TokenTable.readString(t.fs, p).getBytes("UTF-8")
    raw(raw.length - 2) = (raw(raw.length - 2) ^ 0x1).toByte
    val out = t.fs.create(p, true); out.write(raw); out.close()
    intercept[InvalidSignatureException] { ledger.completedUnits() }
    // cursors ride the same store
    val cur = new graft.streaming.Incremental.SnapshotCursor(t, "c1")
    cur.set(41L)
    assert(cur.get().contains(41L))
    val cp = new Path(t.metadataDir, "cursor-c1.text")
    TokenTable.writeString(t.fs, cp, "deadbeef".padTo(64, '0') + "\n99", overwrite = true)
    intercept[InvalidSignatureException] { cur.get() }
  }

  test("unsigned tables keep plain-text checkpoints (back-compat)") {
    val t = SequenceGen.createTable(spark, tmpDir("os-plain") + "/tbl", 100, 2)
    val ledger = new Ledger(t, "step-y")
    ledger.record("u0", t.stageWrite(t.scan(spark), ledger.stagingJobId("u0")))
    // the blob on disk is plain JSON, readable by older engines
    val raw = TokenTable.readString(t.fs, new Path(t.metadataDir, "ledger/step-y/u0.json"))
    assert(raw.trim.startsWith("["))
    assert(ledger.completedUnits().keySet == Set("u0"))
  }
}
