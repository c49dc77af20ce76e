package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.{Clustering, TokenCodec}
import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.{DataFileMeta, TokenTable}

/**
 * Layer probes of the traced run: each calls one public function on input
 * generated from the run's seed, outside the measured loop, and reports a
 * median over a few repetitions.
 */
object Probes {

  private val reps = 5

  private def medianMs(n: Int)(body: => Unit): Double =
    Ctx.median((1 to n).map(_ => Ctx.timeMs(body)._2))

  /** `pruneProbe` over a merge batch's keys against the table's file
    * endpoints, timed on its own before the merge that runs it internally. */
  def mergeProbe(ctx: Ctx, t: TokenTable, batch: DataFrame): Unit = {
    val live = t.liveFiles()
    val endpoints = (live.map(_.minDocId) ++ live.map(_.maxDocId)).distinct.sorted.toArray
    val (_, ms) = Ctx.timeMs(ctx.span("maintenance.merge.probe")(
      Maintenance.pruneProbe(batch.select("doc_id"), endpoints).collect()))
    ctx.sample("merge.probe_ms", ms)
  }

  /** Spark cost of each executed trigger of one streaming query run. */
  def triggerCosts(ctx: Ctx, s: Span, progress: Seq[StreamingQueryProgress]): Unit = {
    ctx.tracer.flush()
    progress.foreach { p =>
      val c = ctx.tracer.batchCost(s, p.batchId)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + p.durationMs.get("triggerExecution").toDouble
      ctx.sample("trigger.driver_ms", ctx.tracer.driverMs(start, end, c))
      ctx.sample("trigger.jobs", c.jobs.toDouble)
      ctx.sample("trigger.tasks", c.tasks.toDouble)
      ctx.sample("trigger.cpu_ms", c.cpuMs)
    }
  }

  private def synthetic(i: Int): DataFileMeta = {
    val id = f"doc$i%012d"
    DataFileMeta(path = s"data/synthetic/$id.parquet", records = 10, bytes = 1000,
      minDocId = id, maxDocId = id, minNTok = 16, maxNTok = 512, sumNTok = 1000L,
      sources = Seq("web"))
  }

  /** Commit latency of a one-file append onto a table whose current snapshot
    * holds `entries` synthetic manifest entries (metadata only, no data). */
  private def commitAt(ctx: Ctx, entries: Int): Double = {
    val t = TokenTable.create(ctx.spark, ctx.dir(s"probe-commit-$entries"))
    t.commit("append", (0 until entries).map(synthetic))
    var next = entries
    val ms = medianMs(3) {
      ctx.span("table.commit")(t.commit("append", Seq(synthetic(next))))
      next += 1
    }
    Ctx.rmrf(ctx.dir(s"probe-commit-$entries"))
    ctx.log(s"commit probe at $entries entries")
    ms
  }

  def run(ctx: Ctx, t: TokenTable): Unit = {
    val spark = ctx.spark
    t.refresh()
    val L = ctx.layers

    // ---- table: key planning, pruning, load, listing, commit
    val snap = t.metadata.currentSnapshot.get
    val live = t.liveFiles()
    L("table.live_files") = live.size
    L("table.manifest_entries") = live.size + t.deleteEntries(snap).size
    ctx.log("probing")
    val keys = t.scan(spark).select("doc_id").orderBy(rand(ctx.seed)).limit(50).collect().map(_.getString(0))
    val planned = keys.map(k => Ctx.timeMs(t.planFilesForKey(k)))
    L("table.plan_files_for_key_us") = Ctx.median(planned.map(_._2 * 1000).toSeq)
    L("table.files_per_lookup") = planned.map(_._1.size).sum.toDouble / keys.length
    // each live key is held by exactly one file
    L("table.lookup_hit_ratio") = keys.length.toDouble / math.max(1, planned.map(_._1.size).sum)
    val root = t.root.toUri.getPath
    L("table.load_ms") = medianMs(reps)(ctx.span("table.load")(TokenTable.load(spark, root)))
    val listed = t.listDataFiles().size
    L("table.list_ms_per_file") = medianMs(reps)(ctx.span("table.list")(t.listDataFiles())) / math.max(1, listed)
    Seq(1000 -> "1e3", 10000 -> "1e4", 100000 -> "1e5").foreach { case (n, tag) =>
      L(s"table.commit_ms_$tag") = commitAt(ctx, n)
    }

    // ---- functions and table write path, on one generated frame
    val frame = SequenceGen.sequences(spark, 20000, ctx.seed).cache()
    frame.count()
    val noopMs = medianMs(3)(frame.write.format("noop").mode("overwrite").save())
    val pq = ctx.dir("probe-parquet")
    val parquetMs = medianMs(3)(frame.write.mode("overwrite").option("compression", "zstd").parquet(pq))
    // MB of token payload (4 bytes a token), the unit of the codec probes too
    val rawMb = frame.agg(sum(col("n_tok").cast("long"))).first().getLong(0) * 4 / 1e6
    L("table.encode_mb_per_s") = rawMb / (math.max(parquetMs - noopMs, 1.0) / 1000)
    var job = 0
    val stageMs = medianMs(3) {
      job += 1
      ctx.span("table.stage_write")(t.stageWrite(frame, s"probe-stage-$job"))
    }
    L("table.stage_write_mb_per_s") = rawMb / (stageMs / 1000)
    val curveMs = medianMs(3)(ctx.span("functions.curve_key") {
      val k = Clustering.zorderKey(frame, Seq("doc_id", "source", "n_tok"))
      frame.select(k.as("k")).write.format("noop").mode("overwrite").save()
    })
    L("functions.curve_key_rows_per_s") = 20000 / (curveMs / 1000)
    val arrays = frame.select("tokens").collect().map(r => UnsafeArrayData.fromPrimitiveArray(
      r.getSeq[Int](0).toArray))
    frame.unpersist()
    var packed: Array[Array[Byte]] = null
    val packMs = medianMs(reps)(ctx.span("functions.pack") { packed = arrays.map(a => TokenCodec.pack(a)) })
    val unpackMs = medianMs(reps)(ctx.span("functions.unpack")(packed.foreach(TokenCodec.unpack)))
    L("functions.pack_mb_per_s") = rawMb / (packMs / 1000)
    L("functions.unpack_mb_per_s") = rawMb / (unpackMs / 1000)

    // ---- streaming: fixed cost of an empty and of a one-row trigger
    val src = ctx.dir("probe-stream-src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val schema = TokenTable.sequenceSchema.add("_op", org.apache.spark.sql.types.StringType)
    (0 until 6).foreach { i =>
      val tmp = ctx.dir(s"probe-stream-tmp-$i")
      val df =
        if (i % 2 == 0) spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        else spark.createDataFrame(java.util.List.of(
          Row(f"doc9$i%011d", Seq(1, 2, 3), 3, "web", "upsert")), schema)
      df.coalesce(1).write.parquet(tmp)
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(src, f"probe-$i%02d.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i))
    }
    // a fresh table: the workload's own may already hold these stream batch ids
    val probeRoot = ctx.dir("probe-stream-table")
    SequenceGen.createTable(spark, probeRoot, 1000, 1, ctx.seed)
    val progress = ctx.span("streaming.probe")(Workloads.drain(spark, src, probeRoot, ctx.dir("probe-stream-ckpt")))
    // a source row can be counted once per read of the batch, so tell the
    // one-row triggers from the empty ones by rows > 0
    def trig(nonEmpty: Boolean) = Ctx.median(progress.filter(p => (p.numInputRows > 0) == nonEmpty)
      .map(_.durationMs.get("triggerExecution").toDouble))
    L("streaming.empty_trigger_ms") = trig(nonEmpty = false)
    L("streaming.one_row_trigger_ms") = trig(nonEmpty = true)

    // ---- tracing itself: cost of one span around no work
    val n = 2000
    val (_, spanMs) = Ctx.timeMs((1 to n).foreach(_ => ctx.span("trace.empty")(())))
    L("trace.span_overhead_us") = spanMs * 1000 / n
  }
}
