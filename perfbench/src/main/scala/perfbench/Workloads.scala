package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.plans.{PipelineDsl, PipelineRunner, PlanOptimizer}
import graft.streaming.Incremental
import graft.table.TokenTable

/**
 * The two workloads. Each is a closed loop on one driver thread: a call is
 * issued only after the previous one returned. Inputs come from `ctx.seed`
 * only; correctness checks run outside the timed calls.
 */
object Workloads {

  /** Sizes. Chosen so that one run measures many calls of each kind within
    * the run length on a 4-core machine (see README.md, "Sizing"). */
  object Size {
    val clusterDocs = 6000L
    val clusterFiles = 16
    val tableDocs = 4000L
    val tableFiles = 8
    val mergeBatchRows = 300
    val mergeBatches = 8
    val lookupsPerCall = 3
    val streamBatchRows = 100
    val streamBatches = 6
    val setupReps = 3
    /** Measured calls of each kind, after one warm-up call (two pipeline
      * passes: the first measured pass after one warm-up still runs
      * 15-30% slow, and with it among a run's medians they spread). */
    val clusterWarmUps = 2
    /** Extra untimed lookups after the warm-up calls: a run's lookups keep
      * getting faster over their first ~10 calls. */
    val warmUpLookups = 10
    val clusterPasses = 5
    val mergeCalls = 5
    val suitePasses = 3
    val retireCalls = 2
  }

  /** Sample keys run.py reads: the workload's write, read and bulk calls,
    * and the stream triggers, delete-pending scans and delete retirements
    * of merge_stream. */
  val WriteKey = "op_ms"
  val ReadKey = "read_ms"
  val QueryKey = "query_ms"
  val BulkKey = "bulk_ms"
  val TriggerKey = "trigger_ms"
  val ScanKey = "scan_ms"
  val RetireKey = "retire_ms"

  // ------------------------------------------------------------------ setup

  /** Create the workload's seeded table `Size.setupReps` times; report
    * the median as the run's set-up time and keep the last table. */
  private def setupTables(ctx: Ctx, name: String)(create: String => TokenTable): TokenTable = {
    var last: TokenTable = null
    val secs = (1 to Size.setupReps).map { i =>
      val (t, ms) = Ctx.timeMs(ctx.span("gen.create_table")(create(ctx.dir(s"$name-$i"))))
      if (last != null) Ctx.rmrf(last.root.toUri.getPath)
      last = t
      ms / 1000
    }
    ctx.values("setup_s") = Ctx.median(secs)
    ctx.log(s"set up ${secs.map(x => f"$x%.2f").mkString(" ")} s")
    ctx.layers("gen.create_table_ms") = Ctx.median(ctx.tracer.named("gen.create_table").map(_.wallMs))
    last
  }

  /** The compaction fixture: small files, rows hash-scattered over them. */
  private def scattered(ctx: Ctx, docs: Long, files: Int)(root: String): TokenTable =
    SequenceGen.createTable(ctx.spark, root, docs, files, ctx.seed)

  /** A table already range-sorted by doc_id into `files` files, so merges
    * and lookups can prune by key. */
  private def sorted(ctx: Ctx, docs: Long, files: Int)(root: String): TokenTable = {
    val t = TokenTable.create(ctx.spark, root)
    val rows = SequenceGen.sequences(ctx.spark, docs, ctx.seed).repartitionByRange(files, col("doc_id"))
    t.commit("append", t.stageWrite(rows, "seed"))
    t
  }

  private def liveBytesPerRow(t: TokenTable): Double = {
    val live = t.refresh().currentSnapshot.map(_ => t.liveFiles()).getOrElse(Seq.empty)
    live.map(_.bytes).sum.toDouble / math.max(1L, live.map(_.records).sum)
  }

  // --------------------------------------------------------------- lookups

  /** Driver-side model of the table: doc_id -> expected row hash. */
  final class Model(base: Array[Row]) {
    val hashes = mutable.HashMap.empty[String, Long]
    val keys = mutable.ArrayBuffer.empty[String]
    base.foreach(r => put(r.getString(0), r.getLong(1)))
    def put(k: String, h: Long): Unit = { if (!hashes.contains(k)) keys += k; hashes(k) = h }
    def delete(k: String): Unit = hashes.remove(k)
    def randomLive(rng: scala.util.Random): String = {
      var k = keys(rng.nextInt(keys.size))
      while (!hashes.contains(k)) k = keys(rng.nextInt(keys.size))
      k
    }
  }

  /** `n` point lookups on random live keys; each must return exactly the
    * expected row. */
  private def lookups(ctx: Ctx, t: TokenTable, model: Model, rng: scala.util.Random, n: Int): Unit =
    (1 to n).foreach { _ =>
      val key = model.randomLive(rng)
      val got = ctx.op(ReadKey)(ctx.span("table.lookup") {
        Ctx.rowHashes(t.lookup(ctx.spark, key)).collect()
      })
      val ok = got.length == 1 && got(0).getLong(1) == model.hashes(key)
      if (!ok) ctx.failedOp(s"lookup $key", s"got ${got.toSeq}, want hash ${model.hashes(key)}")
    }

  // --------------------------------------------------------- cluster_query

  /** The north-rule pipeline, point lookups on its output, then the
    * catalog subset: the repository's two end-to-end numbers (sequences/s of
    * compact + zorder, and suite seconds), measured in one process like
    * graft.Bench does. None of it touches the merge probe, delete keys or
    * streaming. */
  def clusterQuery(ctx: Ctx, fixtures: String, expectedCounts: Map[String, Long]): TokenTable = {
    val spark = ctx.spark
    val t = setupTables(ctx, "cluster")(scattered(ctx, Size.clusterDocs, Size.clusterFiles))
    val start = t.metadata.currentSnapshotId.get
    val bytes = t.liveFiles().map(_.bytes).sum
    // ~2 output files per core, like the north-rule bench
    val target = math.max(1L, bytes / (2 * ctx.cores))
    val yaml =
      s"""- implementation: compact
         |- implementation: zorder
         |  arguments: { columns: [doc_id, source, n_tok], target_file_bytes: $target }
         |""".stripMargin
    val before = Ctx.contentHash(t.scan(spark))
    val model = new Model(Ctx.rowHashes(t.scan(spark)).collect())
    val rng = new scala.util.Random(ctx.seed)
    ctx.heapCheckpoint()

    var rows = 0L
    var writeMs = 0.0
    def pass(): Boolean = {
      // every pass starts from the same scattered snapshot: rollback is a
      // metadata-only commit and is not part of the timed call
      t.rollbackTo(start)
      val (_, ms) = Ctx.timeMs(ctx.op(WriteKey) {
        val steps = ctx.span("plans.parse")(PipelineDsl.parse(yaml))
        val plan = ctx.span("plans.optimize")(PlanOptimizer.optimize(steps))
        ctx.layers("plans.steps_after_optimize") = plan.size
        ctx.span("maintenance.cluster")(PipelineRunner.run(spark, t, plan, optimize = false))
      })
      if (ctx.recording) { rows += Size.clusterDocs; writeMs += ms }
      // the read clustering is for: point lookups on the clustered layout,
      // spread over the run rather than bunched at its end
      lookups(ctx, t, model, rng, Size.lookupsPerCall)
      true
    }
    ctx.warmUp {
      (1 to Size.clusterWarmUps).foreach(_ => pass())
      lookups(ctx, t, model, rng, Size.warmUpLookups)
    }
    val passes = ctx.closedLoop(Size.clusterPasses, ctx.seconds / 2)(_ => pass())
    ctx.values("rows") = rows.toDouble
    ctx.values("write_s") = writeMs / 1000
    ctx.values("cluster_passes") = passes
    ctx.heapCheckpoint()

    t.refresh()
    val after = Ctx.contentHash(t.scan(spark))
    ctx.check("cluster keeps rows and content", after == before, s"before $before after $after")
    val order = t.metadata.sortOrder
    ctx.check("sort order recorded", order == Seq("zorder(doc_id,source,n_tok)"), s"sortOrder $order")
    ctx.values("bytes_per_seq") = liveBytesPerRow(t)
    ctx.check("lookups exact", ctx.failedOps == 0, s"${ctx.failedOps} lookups wrong")

    querySuite(ctx, fixtures, expectedCounts)
    ctx.heapCheckpoint()
    t
  }

  // ------------------------------------------------------- merge batches

  /** Generate `batches` x `rows` merge rows from the seed: ~30% upserts of
    * existing keys, ~3% deletes of existing keys, the rest new keys; doc
    * lengths and sources keep SequenceGen's skew. Existing keys are spread
    * uniformly over the table's key space, so a batch's matched keys fall in
    * every file and pruning cannot skip any; no key is picked twice, so a
    * batch never holds a key twice and a deleted key is not picked again.
    * Column `_b` is the batch number. */
  def mergeRows(spark: SparkSession, tableDocs: Long, batches: Int, rows: Int, seed: Long): DataFrame = {
    require(batches.toLong * rows <= tableDocs, "existing-key picks must stay unique")
    val g = expr("CAST(substring(doc_id, 4) AS BIGINT)")
    val u = pmod(xxhash64(col("_g"), lit(seed + 7)), lit(100L))
    val b = (col("_g") / rows).cast("long")
    // i -> (i * A + C) mod N is injective on [0, N) when gcd(A, N) = 1; a
    // stride A near N / golden ratio scatters consecutive rows over the
    // whole key space
    val a = Iterator.from((tableDocs * 0.618).toInt).map(_.toLong).find(x => BigInt(x).gcd(BigInt(tableDocs)) == 1).get
    val existing = pmod(col("_g") * a + lit(math.abs(seed % tableDocs)), lit(tableDocs))
    SequenceGen.sequences(spark, batches.toLong * rows, seed ^ 0x5eedL)
      .withColumn("_g", g)
      .select(
        format_string("doc%012d", when(u < 33, existing).otherwise(lit(tableDocs) + col("_g"))).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"),
        when(u >= 30 && u < 33, lit("delete")).otherwise(lit("upsert")).as("_op"),
        b.cast("int").as("_b"))
  }

  /** Expected table after applying `applied` on top of `base`, computed
    * with plain DataFrames: last write per key wins (by batch number),
    * anti-join the touched keys out of the base, union the surviving
    * upserts. */
  def expectedState(base: DataFrame, applied: DataFrame): DataFrame = {
    val last = applied
      .withColumn("_r", row_number().over(Window.partitionBy("doc_id").orderBy(col("_b").desc)))
      .filter(col("_r") === 1)
    base.join(last.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(last.filter(col("_op") === "upsert").select("doc_id", "tokens", "n_tok", "source"))
  }

  /** Write the merge rows once, one directory per batch (`_b=<n>`). */
  private def stageBatches(ctx: Ctx, rows: DataFrame, name: String): String = {
    val dir = ctx.dir(name)
    rows.repartition(col("_b")).write.partitionBy("_b").parquet(dir)
    dir
  }

  private def applyToModel(model: Model, batchRows: Seq[Row]): Unit =
    batchRows.foreach { r =>
      if (r.getString(2) == "delete") model.delete(r.getString(0)) else model.put(r.getString(0), r.getLong(1))
    }

  // --------------------------------------------------------- merge_stream

  /** Stream batches sort after every copy-on-write batch in the expected
    * state's last-write-wins order. */
  private val StreamBatch0 = 1000

  /** Copy-on-write merge batches, each followed by point lookups, then a
    * merge-on-read stream over the same table, then scans through its
    * pending deletes, each followed by their retirement (the bulk call of the
    * workload): the two merge styles on one table, so a
    * change that speeds one at the other's cost, or moves write cost onto
    * reads, shows in one run. Almost no curve-key work. */
  def mergeStream(ctx: Ctx): TokenTable = {
    val spark = ctx.spark
    val t = setupTables(ctx, "merge")(sorted(ctx, Size.tableDocs, Size.tableFiles))
    // both kinds of batch staged in one write: `_b=<n>` directories
    val staged = stageBatches(ctx,
      mergeRows(spark, Size.tableDocs, Size.mergeBatches, Size.mergeBatchRows, ctx.seed).unionByName(
        mergeRows(spark, Size.tableDocs, Size.streamBatches, Size.streamBatchRows, ctx.seed + 1)
          .withColumn("_b", col("_b") + StreamBatch0)), "batches")
    val byBatch: Map[Int, Seq[Row]] =
      spark.read.parquet(staged).filter(col("_b") < StreamBatch0).select(col("doc_id"), xxhash64(col("doc_id"), col("tokens")), col("_op"), col("_b"))
        .collect().toSeq.groupBy(_.getInt(3))
    ctx.log("batches staged")
    val model = new Model(Ctx.rowHashes(t.scan(spark)).collect())
    val rng = new scala.util.Random(ctx.seed)
    ctx.heapCheckpoint()

    // ---- copy-on-write merges, each followed by lookups
    var mergeRowsDone = 0L
    var mergeMs = 0.0
    def merge(b: Int): Boolean =
      if (b >= Size.mergeBatches) false
      else {
        val batch = spark.read.parquet(s"$staged/_b=$b")
        if (ctx.traced) Probes.mergeProbe(ctx, t, batch)
        val beforeFiles = if (ctx.traced) t.liveFiles() else Nil
        val (snap, ms) = Ctx.timeMs(ctx.op(WriteKey)(ctx.span("maintenance.merge")(
          Maintenance.mergeInto(spark, t, batch))))
        if (ctx.recording) { mergeRowsDone += byBatch(b).size; mergeMs += ms }
        if (ctx.traced) {
          val afterPaths = t.liveFiles().map(_.path).toSet
          val rewritten = beforeFiles.filterNot(f => afterPaths.contains(f.path))
          ctx.sample("merge.files_rewritten", snap.summary.get("touched-files").map(_.toDouble).getOrElse(rewritten.size))
          ctx.sample("merge.rewrite_bytes_per_batch_byte",
            rewritten.map(_.bytes).sum.toDouble / math.max(1L, Ctx.dirBytes(s"$staged/_b=$b")))
        }
        applyToModel(model, byBatch(b))
        lookups(ctx, t, model, rng, Size.lookupsPerCall)
        true
      }
    ctx.log("model built")
    ctx.warmUp {
      merge(0)
      lookups(ctx, t, model, rng, Size.warmUpLookups)
    }
    val batches = 1 + ctx.closedLoop(Size.mergeCalls, ctx.seconds / 2)(i => merge(i + 1))
    ctx.values("merge_rows") = mergeRowsDone.toDouble
    ctx.values("merge_s") = mergeMs / 1000
    ctx.values("merge_batches") = batches
    ctx.check("lookups exact", ctx.failedOps == 0, s"${ctx.failedOps} lookups wrong")

    // ---- merge-on-read stream: one query drains every staged file, one
    // file per trigger; its first trigger includes the query's start
    val src = ctx.dir("stream-src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val ckpt = ctx.dir("stream-ckpt")
    feed(staged, src, StreamBatch0, StreamBatch0 + Size.streamBatches)
    ctx.log("streaming")
    val (progress, streamMs) = Ctx.timeMs(ctx.span("streaming.stream_merge_mor")(
      drain(spark, src, t.root.toUri.getPath, ckpt)))
    ctx.log(s"streamed ${progress.size} triggers")
    progress.foreach { p =>
      ctx.attempted += 1
      ctx.sample(TriggerKey, p.durationMs.get("triggerExecution").toDouble)
      Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning", "latestOffset" -> "latest_offset",
        "getBatch" -> "get_batch", "walCommit" -> "wal_commit").foreach { case (k, name) =>
        ctx.sample(s"streaming.${name}_ms", p.durationMs.getOrDefault(k, 0L).toDouble)
      }
    }
    if (ctx.traced) Probes.triggerCosts(ctx, ctx.tracer.named("streaming.stream_merge_mor").last, progress)
    // the stream's rate is taken over its triggers after the first, which
    // also starts the query (in `stream_s`, and in the trigger tail)
    val steady = progress.drop(1).map(_.durationMs.get("triggerExecution").toDouble)
    ctx.values("rows") = steady.size.toDouble * Size.streamBatchRows
    ctx.values("write_s") = steady.sum / 1000
    ctx.values("stream_s") = streamMs / 1000
    ctx.heapCheckpoint()

    // ---- a scan through the pending deletes, then their retirement
    t.refresh()
    val pending = t.metadata.currentSnapshotId.get
    val deletes = t.deleteEntries(t.metadata.currentSnapshot.get)
    ctx.values("pending_delete_entries") = deletes.size
    ctx.values("stream_commits") = t.metadata.snapshots.count(_.summary.contains("stream-batch-id"))
    ctx.check("deletes pending before retire", deletes.nonEmpty, "no pending delete keys")
    val applied = spark.read.parquet(staged).filter(col("_b") < batches)
      .unionByName(spark.read.schema(streamSchema).parquet(src).withColumn("_b",
        regexp_extract(input_file_name(), "batch-(\\d+)", 1).cast("int")))
    val want = Ctx.contentHash(expectedState(SequenceGen.sequences(spark, Size.tableDocs, ctx.seed), applied))
    ctx.log("expected state computed")
    // each call starts from the same delete-pending snapshot: rollback is a
    // metadata-only commit and is not part of the timed call
    def bulk(): Boolean = {
      if (t.refresh().currentSnapshotId.get != pending) t.rollbackTo(pending)
      ctx.op(BulkKey) {
        val (scanned, scanMs) = Ctx.timeMs(ctx.span("table.scan")(Ctx.contentHash(t.scan(spark))))
        ctx.sample(ScanKey, scanMs)
        ctx.check("state through pending deletes", scanned == want, s"scan $scanned expected $want")
        val (_, retireMs) = Ctx.timeMs(ctx.span("maintenance.materialize_deletes")(
          Maintenance.materializeDeletes(spark, t)))
        ctx.sample(RetireKey, retireMs)
      }
      true
    }
    ctx.warmUp(bulk())
    ctx.values("bulk_calls") = ctx.closedLoop(Size.retireCalls, 0)(_ => bulk())
    t.refresh()
    ctx.check("no deletes pending after retire", t.metadata.currentSnapshot.forall(_.deletes.isEmpty),
      "delete files remain")
    val after = Ctx.contentHash(t.scan(spark))
    ctx.check("state after retire", after == want, s"table $after expected $want")
    ctx.values("bytes_per_seq") = liveBytesPerRow(t)
    t
  }

  /** Move staged batch files into the stream source in batch order, with
    * increasing modification times so the file source reads them in order. */
  private def feed(staged: String, src: String, from: Int, until: Int): Unit =
    (from until until).foreach { b =>
      val dir = java.nio.file.Paths.get(s"$staged/_b=$b")
      val files = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = java.nio.file.Paths.get(src, f"batch-$b%05d-$i%03d.parquet")
        java.nio.file.Files.move(f, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 1000L + i))
      }
    }

  private val streamSchema =
    TokenTable.sequenceSchema.add("_op", org.apache.spark.sql.types.StringType)

  /** Drain every file currently in `src` through a merge-on-read stream,
    * one file per trigger; returns the progress of each executed trigger. */
  def drain(spark: SparkSession, src: String, root: String, ckpt: String): Seq[StreamingQueryProgress] = {
    val stream = spark.readStream.schema(streamSchema).option("maxFilesPerTrigger", 1).parquet(src)
    val q = Incremental.streamMergeMor(stream, root, ckpt)
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  }

  // ---------------------------------------------------------- query_suite

  /** Catalog entries timed by cluster_query: one per family, so a pass is
    * short enough to repeat within a run. The maintenance and streaming
    * entries are left out: they take ~95 s of a ~120 s catalog pass over
    * sf0.001 on 4 cores, and merge_stream measures their layers directly. */
  val suite: Seq[(String, Seq[String])] = Seq(
    "src" -> Seq("src_scan_pushdown"),
    "flt" -> Seq("flt_regex"),
    "tfm" -> Seq("tfm_jsonpath"),
    "exp" -> Seq("exp_cast"),
    "dbn" -> Seq("dbn_debounce_last_wins"),
    "rel" -> Seq("agg_pricing"),
    "ddp" -> Seq("ddp_simhash"),
    "ann" -> Seq("ann_brute_topk"),
    "curate" -> Seq("sel_token_budget"),
    "txt" -> Seq("txt_quality"),
    "mm" -> Seq("mm_decode_meta"))

  /** Passes over the catalog subset, each in the fixed order above (a
    * query's cold cost depends on what ran before it). A pass is the bulk
    * call of the workload; its first, cold pass is a warm-up. */
  private def querySuite(ctx: Ctx, fixtures: String, expectedCounts: Map[String, Long]): Unit = {
    val spark = ctx.spark
    val catalog = graft.SparkEntry.queries
    suite.foreach { case (_, qs) => qs.foreach(q => require(catalog.contains(q), s"unknown catalog entry $q")) }
    val failedBefore = ctx.failedOps
    def pass(): Boolean = {
      // each query is one call of the loop; the pass is their sum
      val (_, passMs) = Ctx.timeMs(suite.foreach { case (fam, qs) =>
        val (_, famMs) = Ctx.timeMs(qs.foreach { q =>
          val n = ctx.op(QueryKey)(ctx.span(s"ops.$fam")(catalog(q)(spark, fixtures).count()))
          val want = expectedCounts.get(q)
          if (!want.contains(n)) ctx.failedOp(s"row count $q", s"got $n want $want")
        })
        ctx.sample(s"family.$fam", famMs)
      })
      ctx.sample(BulkKey, passMs)
      true
    }
    ctx.warmUp(pass())
    ctx.values("suite_passes") = ctx.closedLoop(Size.suitePasses, 0)(_ => pass())
    ctx.check("row counts match fixture", ctx.failedOps == failedBefore,
      s"${ctx.failedOps - failedBefore} queries wrong")
  }
}
