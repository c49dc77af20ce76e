package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.streaming.Incremental
import graft.table.TokenTable

class IncrementalSpec extends SparkSpec {

  test("incremental compact processes only files appended since the cursor") {
    val root = tmpDir("inc-compact")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 2000, nFiles = 8)

    // tick 1: all 8 seed files are new to this consumer
    val n1 = Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024)
    assert(n1 == 8)
    val filesAfter1 = t.liveFiles().map(_.path).toSet

    // idle tick: nothing new appended -> no-op (the reference's empty poll)
    assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 0)
    assert(t.liveFiles().map(_.path).toSet == filesAfter1)

    // append 4 more files; only they are rewritten
    SequenceGen.appendScattered(spark, t, nDocs = 500, nFiles = 4, seed = 77)
    val n3 = Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024)
    assert(n3 == 4)
    assert(t.scan(spark).count() == 2500)
    // earlier compacted output untouched
    assert(filesAfter1.subsetOf(t.liveFiles().map(_.path).toSet))
  }

  test("a concurrent append landing mid-tick is compacted by the NEXT tick, not skipped") {
    // The tick's commit rebases over the concurrent append and carries its
    // manifest forward — so a cursor advanced to the COMMIT snapshot would
    // hide the never-seen files forever. The cursor must advance only to
    // the planning snapshot (with the tick's own outputs as exclusions).
    val root = tmpDir("inc-race")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 1000, nFiles = 4)
    graft.maintenance.Failpoints.armCallback("inc.after-plan") { () =>
      SequenceGen.appendScattered(spark, t, nDocs = 300, nFiles = 2, seed = 91)
    }
    try {
      assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 4)
    } finally graft.maintenance.Failpoints.reset()
    // the 2 mid-tick files were never considered; they must still be fresh
    assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 2)
    assert(t.scan(spark).count() == 1300)
    // and ticks never re-compact their own outputs
    assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 0)
  }

  test("a lone small file stays in view until a companion arrives") {
    val root = tmpDir("inc-lone")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 200, nFiles = 1)
    // one small file: nothing to binpack, but the cursor must NOT advance
    // past it — it would otherwise never be compacted however many files
    // arrive later
    assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 0)
    SequenceGen.appendScattered(spark, t, nDocs = 200, nFiles = 1, seed = 92)
    assert(Incremental.compactTick(spark, t, smallFileThreshold = 512L * 1024 * 1024) == 2)
    assert(t.scan(spark).count() == 400)
  }

  test("model check: random append/tick/mid-tick-append interleavings — content exact, amplification bounded") {
    // The cursor discipline under arbitrary interleaving: (1) scan content
    // always equals everything appended; (2) ticks reach a fixpoint (two
    // consecutive no-ops) once appends stop; (3) WRITE AMPLIFICATION BOUND —
    // every appended row is rewritten by ticks AT MOST ONCE (outputs are
    // cursor-excluded, so the sum of tick-compact input rows can never
    // exceed the rows appended), the property that makes per-trigger
    // incremental maintenance affordable at streaming commit rates.
    val rng = new scala.util.Random(20260818L)
    val big = 512L * 1024 * 1024
    (1 to 2).foreach { round =>
      val root = tmpDir(s"inc-model-$round")
      val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 400, nFiles = 3)
      var appended = 400L
      (1 to 8).foreach { _ =>
        rng.nextInt(3) match {
          case 0 =>
            val n = 100 + rng.nextInt(200)
            SequenceGen.appendScattered(spark, t, nDocs = n,
              nFiles = 1 + rng.nextInt(3), seed = rng.nextInt(1 << 20))
            appended += n
          case 1 =>
            Incremental.compactTick(spark, t, smallFileThreshold = big)
          case 2 =>
            val n = 50 + rng.nextInt(100)
            graft.maintenance.Failpoints.armCallback("inc.after-plan") { () =>
              SequenceGen.appendScattered(spark, t, nDocs = n, nFiles = 2,
                seed = rng.nextInt(1 << 20))
            }
            try Incremental.compactTick(spark, t, smallFileThreshold = big)
            finally graft.maintenance.Failpoints.reset()
            appended += n
        }
        assert(t.scan(spark).count() == appended, s"round $round lost/duplicated rows")
      }
      // quiesce: ticks reach a fixpoint within the pending backlog
      var zeros = 0; var guard = 0
      while (zeros < 2 && guard < 12) {
        if (Incremental.compactTick(spark, t, smallFileThreshold = big) == 0) zeros += 1
        else zeros = 0
        guard += 1
      }
      assert(zeros == 2, s"round $round: ticks never reached a fixpoint")
      assert(t.scan(spark).count() == appended)
      // amplification: total rows written by tick compacts <= rows appended
      // (a compact's output rows == its input rows, and outputs are
      // cursor-excluded, so exceeding `appended` means an output was
      // re-compacted)
      val tickRows = t.metadata.snapshots
        .filter(s => s.operation == "compact" &&
          s.summary.get("mode").contains("incremental"))
        .map(_.summary.getOrElse("added-records", "0").toLong).sum
      assert(tickRows <= appended,
        s"round $round: ticks rewrote $tickRows rows for $appended appended — " +
          "an output was re-compacted")
    }
  }

  test("streaming append: each micro-batch is one atomic snapshot, idempotent by batch id") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("inc-stream")
    val t = TokenTable.create(spark, s"$root/tbl")
    val ckpt = tmpDir("inc-ckpt")

    val mem = MemoryStream[(String, Seq[Int], Int, String)]
    val df = mem.toDF().toDF("doc_id", "tokens", "n_tok", "source")
    mem.addData(("s1", Seq(1, 2), 2, "web"), ("s2", Seq(3), 1, "code"))
    val q1 = Incremental.streamAppend(df, s"$root/tbl", ckpt)
    q1.processAllAvailable(); q1.stop()

    t.refresh()
    assert(t.scan(spark).count() == 2)
    assert(t.metadata.snapshots.exists(_.summary.get("stream-batch-id").contains("0")))

    mem.addData(("s3", Seq(4, 5, 6), 3, "web"))
    val q2 = Incremental.streamAppend(df, s"$root/tbl", ckpt)
    q2.processAllAvailable(); q2.stop()
    t.refresh()
    assert(t.scan(spark).count() == 3)
    assert(t.scan(spark).filter($"doc_id" === "s3").count() == 1)
    // two committed stream batches, distinct ids
    val ids = t.metadata.snapshots.flatMap(_.summary.get("stream-batch-id"))
    assert(ids.distinct.size == ids.size)
  }

  test("streaming merge upserts per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("inc-merge")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 100, nFiles = 2)
    val ckpt = tmpDir("inc-merge-ckpt")

    val mem = MemoryStream[(String, Seq[Int], Int, String)]
    val df = mem.toDF().toDF("doc_id", "tokens", "n_tok", "source")
    mem.addData(("doc000000000001", Seq(9, 9), 2, "web"), ("brand-new", Seq(1), 1, "code"))
    val q = Incremental.streamMerge(df, s"$root/tbl", ckpt)
    q.processAllAvailable(); q.stop()

    t.refresh()
    val out = t.scan(spark)
    assert(out.count() == 101)
    assert(out.filter($"doc_id" === "doc000000000001").select("n_tok").head().getInt(0) == 2)
    assert(out.filter($"doc_id" === "brand-new").count() == 1)
  }

  test("every stream sink: an empty micro-batch commits nothing; a replayed batch id is skipped") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    type Sink = (DataFrame, String, String) => StreamingQuery
    val sinks: Seq[(String, Sink)] = Seq(
      "streamAppend" -> ((s, r, c) => Incremental.streamAppend(s, r, c)),
      "streamMerge" -> ((s, r, c) => Incremental.streamMerge(s, r, c)),
      "streamMergeMor" -> ((s, r, c) => Incremental.streamMergeMor(s, r, c)))
    sinks.foreach { case (name, sink) =>
      val root = tmpDir(s"inc-empty-$name")
      val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 50, nFiles = 1)
      val src = s"$root/src"
      val ckpt = s"$root/ckpt"
      def land(df: DataFrame): Unit = df.coalesce(1).write.mode("append").parquet(src)
      def drain(): Unit = {
        val q = sink(spark.readStream.schema(TokenTable.sequenceSchema)
          .option("maxFilesPerTrigger", 1).parquet(src), s"$root/tbl", ckpt)
        try q.processAllAvailable() finally q.stop()
        q.exception.foreach(e => throw e)
      }
      def dataTree(): Set[String] = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/tbl/data"))
        try walk.toArray.map(_.toString).toSet finally walk.close()
      }
      def state() = (t.refresh().snapshots.map(_.snapshotId), dataTree())

      // batch 0: one new row commits one snapshot
      land(SequenceGen.sequences(spark, 1, seed = 5L)
        .withColumn("doc_id", concat(lit("new-"), col("doc_id"))))
      drain()
      val afterFirst = state()
      assert(t.metadata.currentSnapshot.exists(
        _.summary.get("stream-batch-id").contains("0")), s"$name: batch 0 not committed")
      assert(t.scan(spark).count() == 51, s"$name: row count")

      // replay: drop the checkpoint's record of batch 0 so the restarted
      // query runs it again; the sink must see the id in the log and skip
      val commits = java.nio.file.Paths.get(ckpt, "commits")
      Seq("0", ".0.crc").foreach(f => java.nio.file.Files.deleteIfExists(commits.resolve(f)))
      drain()
      assert(state() == afterFirst, s"$name: replayed batch 0 committed again")

      // batch 1: an empty file is an empty micro-batch
      val srcFiles = new java.io.File(src).list().count(_.endsWith(".parquet"))
      land(SequenceGen.sequences(spark, 1, seed = 5L).filter(lit(false)))
      assert(new java.io.File(src).list().count(_.endsWith(".parquet")) == srcFiles + 1)
      drain()
      assert(java.nio.file.Files.exists(commits.resolve("1")), s"$name: batch 1 never ran")
      assert(state() == afterFirst, s"$name: an empty batch committed or left files")
      assert(t.scan(spark).count() == 51)
    }
  }

  test("StreamConnector: poll == Flush micro-batch, rate limit buffers, empty polls end the drain") {
    import spark.implicits._
    import graft.streaming.{IterableStreamConnector, StreamConnector}
    val root = tmpDir("conn-stream")
    val t = TokenTable.create(spark, s"$root/tbl")
    val ckpt = tmpDir("conn-ckpt")
    val polls: Iterator[Seq[(String, Seq[Int], Int, String)]] = Iterator(
      Seq(("c1", Seq(1, 2), 2, "web"), ("c2", Seq(3), 1, "code"),
        ("c3", Seq(4), 1, "web")), // 3 records but maxRecords = 2: c3 buffers
      Seq.empty, // transient empty poll: a Flush, NOT termination
      Seq(("c4", Seq(5, 5), 2, "code")))
    val n = StreamConnector.drain[(String, Seq[Int], Int, String)](
      spark,
      new IterableStreamConnector[(String, Seq[Int], Int, String)](polls),
      ds => Incremental.streamAppend(
        ds.toDF("doc_id", "tokens", "n_tok", "source"), s"$root/tbl", ckpt,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)),
      maxRecords = 2, maxConsecutiveEmptyPolls = 2)
    assert(n == 4)
    t.refresh()
    assert(t.scan(spark).count() == 4)
    // polls (2 recs, 1 buffered rec, Flush, 1 rec) -> 3 committed batches
    val ids = t.metadata.snapshots.flatMap(_.summary.get("stream-batch-id"))
    assert(ids.distinct.size == 3)
  }

  test("DirectoryTailConnector: live appends across polls, Flush-commit per poll") {
    import spark.implicits._
    import graft.streaming.{DirectoryTailConnector, StreamConnector}
    val spool = java.nio.file.Paths.get(tmpDir("spool"))
    val root = tmpDir("tail-stream")
    val t = TokenTable.create(spark, s"$root/tbl")
    // producer thread: land files atomically (tmp + rename) WHILE the drain
    // runs — the connector must keep discovering them across polls
    def land(name: String, lines: Seq[String]): Unit = {
      val tmp = spool.resolve(s".$name.tmp")
      java.nio.file.Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, spool.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    land("b000.jsonl", Seq("t1,2,web", "t2,1,code"))
    val producer = new Thread(() => {
      Thread.sleep(400); land("b001.jsonl", Seq("t3,3,web"))
      Thread.sleep(400); land("b002.jsonl", Seq("t4,1,books", "t5,2,code"))
    })
    producer.start()
    val conn = new DirectoryTailConnector(spool)
    val n = StreamConnector.drain[String](
      spark, conn,
      ds => Incremental.streamAppend(
        ds.map { line =>
          val Array(id, nt, src) = line.split(',')
          (id, (1 to nt.toInt).map(_ => 7), nt.toInt, src)
        }.toDF("doc_id", "tokens", "n_tok", "source"),
        s"$root/tbl", tmpDir("tail-ckpt"),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)),
      maxRecords = 100,
      // idle budget 40 x 50ms = 2s, comfortably past the producer's 400ms gaps
      maxConsecutiveEmptyPolls = 40)
    producer.join()
    assert(n == 5, s"drained $n")
    assert(conn.pollsWithData >= 3, s"data arrived in ${conn.pollsWithData} polls")
    t.refresh()
    assert(t.scan(spark).count() == 5)
    assert(t.scan(spark).filter($"doc_id" === "t4").select("n_tok").head().getInt(0) == 1)
    // one committed micro-batch per non-empty poll (Flush == commit)
    val ids2 = t.metadata.snapshots.flatMap(_.summary.get("stream-batch-id"))
    assert(ids2.distinct.size == conn.pollsWithData, s"$ids2 vs ${conn.pollsWithData}")
  }
}
