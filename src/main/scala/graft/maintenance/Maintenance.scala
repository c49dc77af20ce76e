package graft.maintenance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils, PlanBridge}
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, PackTokens, RangeBucket, RangePlan, UnpackTokens}
import graft.table.{CommitConflictException, DataFileMeta, Snapshot, TableMetadata, TokenTable}

/** Test-only failpoints for crash-resume coverage — the analogue of the
  * reference's error-path e2e suite
  * (reference tests/data/test_snapshot_handling_during_errors.py). */
object Failpoints {
  @volatile private var arm: Map[String, Int] = Map.empty
  @volatile private var callbacks: Map[String, () => Unit] = Map.empty
  final class InjectedFailure(name: String) extends RuntimeException(s"failpoint: $name")
  /** Fail the `n`-th hit (1-based) of `name`. */
  def armAt(name: String, n: Int): Unit = synchronized { arm += (name -> n) }
  /** Run `f` (once, then disarm) at the next hit of callback point `name` —
    * for interleaving tests that inject a concurrent commit mid-plan. */
  def armCallback(name: String)(f: () => Unit): Unit =
    synchronized { callbacks += (name -> f) }
  def reset(): Unit = synchronized { arm = Map.empty; callbacks = Map.empty }
  def hitCallback(name: String): Unit = {
    val f = synchronized {
      val r = callbacks.get(name); r.foreach(_ => callbacks -= name); r
    }
    f.foreach(_.apply())
  }
  def hit(name: String): Unit = synchronized {
    arm.get(name) match {
      case Some(1) => arm -= name; throw new InjectedFailure(name)
      case Some(n) => arm += (name -> (n - 1))
      case None    => ()
    }
  }
}

/** Desired physical layout of rewritten data. */
sealed trait Layout { def describe: String }
/** Pure bin-pack concatenation — no shuffle, no sort (Iceberg's binpack
  * strategy): input splits are merged into ~target-size files as-is. */
case object Concat extends Layout { def describe = "concat" }
case class SortBy(cols: Seq[String]) extends Layout { def describe = s"sort(${cols.mkString(",")})" }
case class ZOrder(cols: Seq[String], bits: Int = Clustering.DefaultBits) extends Layout {
  def describe = s"zorder(${cols.mkString(",")})"
}
case class Hilbert(cols: Seq[String], bits: Int = Clustering.DefaultBits) extends Layout {
  def describe = s"hilbert(${cols.mkString(",")})"
}

/** Node/row creation rules for MERGE — reference nodestream/model/creation_rules.py:4-18. */
object CreationRule extends Enumeration {
  val Eager, MatchOnly, Create = Value
}

object Maintenance {

  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  // ------------------------------------------------------------- compaction

  /**
   * Bin-packing small-file compaction + optional re-clustering, executed as
   * resumable chunks. Victims are bin-packed first-fit-decreasing into bins
   * of ~targetFileBytes; bins are grouped into `chunks` independent Spark
   * jobs, each staged + ledger-recorded so a killed run resumes without
   * recomputing finished chunks; one atomic snapshot swap at the end.
   *
   * Spark shape per chunk: file-list scan → one sample job planning
   * token-mass-balanced key ranges ([[Clustering]]) → one exchange routing
   * rows straight to their range → `sortWithinPartitions` → write. A chunk
   * planned at one output file skips the sample and coalesces.
   */
  def compact(
      spark: SparkSession,
      table: TokenTable,
      layout: Layout = SortBy(Seq("doc_id")),
      targetFileBytes: Long = DefaultTargetFileBytes,
      smallFileThreshold: Option[Long] = None, // None = rewrite ALL files (full re-cluster)
      chunks: Int = 8,
      operation: String = "compact"): Option[Snapshot] = {
    // No refresh: a stale planning view is safe (commit validation
    // conflicts on anything that landed since), so the caller decides how
    // fresh it is.
    val m = table.metadata
    val threshold = smallFileThreshold.getOrElse(Long.MaxValue)
    val victims = table.liveFiles(m).filter(_.bytes < threshold)
    // A compact of < 2 files has nothing to merge; a re-CLUSTER of even one
    // file is real work — the rewrite reorders its rows on the curve.
    if (if (operation == "compact") victims.size < 2 else victims.isEmpty)
      return None

    // First-fit-decreasing bin packing of victims into ~target-size bins,
    // then round-robin bins into resumable chunks. On a partitioned table
    // victims are grouped by partition tuple FIRST and packed within each
    // group (Iceberg's per-partition binpack): a cross-tuple bin would be
    // re-split per tuple by the aligned writer anyway, so mixing tuples in
    // one bin leaves the small-file fragmentation it was meant to fix.
    // Groups are ordered by their min path so chunk composition — and with
    // it the resume ledger — stays deterministic.
    val bins =
      if (m.spec.isEmpty) binPack(victims, targetFileBytes)
      else victims.groupBy(_.partition).values.toSeq
        .sortBy(_.map(_.path).min)
        .flatMap(group => binPack(group, targetFileBytes))
    val chunkGroups: Seq[Seq[DataFileMeta]] =
      bins.zipWithIndex
        .groupBy(_._2 % math.max(1, math.min(chunks, bins.size)))
        .toSeq.sortBy(_._1)
        .map(_._2.flatMap(_._1))
    rewrite(spark, table, m, operation, chunkGroups, layout.describe, targetFileBytes,
      summary = _ => Map(
        "layout" -> layout.describe,
        "target-file-bytes" -> targetFileBytes.toString,
        "input-files" -> victims.size.toString,
        "input-records" -> victims.map(_.records).sum.toString),
      layout = layout,
      // a full re-cluster declares its layout atomically with the data
      // commit; a binpack compact declares nothing
      declareSortOrder =
        if (operation == "cluster" && layout != Concat) Some(Seq(layout.describe))
        else None).map(_._1)
  }

  /** Full-table re-cluster on a space-filling curve (zorder/hilbert). */
  def cluster(
      spark: SparkSession,
      table: TokenTable,
      layout: Layout,
      targetFileBytes: Long = DefaultTargetFileBytes,
      chunks: Int = 1): Option[Snapshot] = {
    // One chunk: a curve re-cluster is a single global range shuffle so key
    // ranges do not straddle chunk boundaries. The declared clustering
    // rides the cluster commit itself (TokenTable.commit declareSortOrder) —
    // atomically, so no crash window can leave clustered data undeclared.
    // The declaration is Iceberg write-order semantics: the layout the
    // table WAS last clustered to, not a per-file guarantee — later appends
    // and binpack compacts do not clear it.
    compact(spark, table, layout, targetFileBytes, smallFileThreshold = None,
      chunks = chunks, operation = "cluster")
  }

  // --------------------------------------------------------------- rewrite

  /**
   * The one path of every operation that rewrites data files — compact and
   * cluster, the copy-on-write and fuzzy merges, the predicate delete,
   * delete materialization and the incremental compaction tick: the
   * reference's single flush (debounce → one bulk MERGE) with extractor
   * checkpoints for resume (nodestream/pipeline/extractors/extractor.py:
   * 19-51). An operation supplies its victims, grouped into resumable
   * `units`, and a `transform` from a unit's rows to its output rows.
   * Everything else is planned here from the ONE metadata value `m` (see
   * TokenTable "snapshot-consistent planning views"):
   *  - each unit reads its victims through `m`'s pending deletes and writes
   *    ~`targetFileBytes` files, sized from the victims' bytes plus the
   *    `extra` (bytes, rows) the transform adds;
   *  - routing is one decision. A partitioned table distributes by tuple
   *    (curve layouts keep their global clustering shuffle); a transform
   *    that fixes its own distribution (`routed`) is written as it is;
   *    anything else takes the layout's shuffle, with bounds sampled from
   *    the victims' read so the transform never runs twice;
   *  - the step id ([[Ledger.stepId]]) hashes the sorted victim paths, the
   *    op's `key` and the target size, so a rerun after a crash finds the
   *    units its ledger recorded and reuses their staged files;
   *  - one commit replaces the rewritten and the metadata-only `dropped`
   *    files, validated against the delete files `m` read. A conflicted
   *    plan never commits, so its ledger is cleared.
   * Staging rule: every unit attempt stages under a fresh
   * [[Ledger.stagingJobId]], and no staging directory is ever deleted: two
   * handles planning from one snapshot compute the same step id, so the
   * step's prefix may hold the other writer's committed output. Crash
   * leftovers are orphans for removeOrphans. Returns None, committing
   * nothing, when there is nothing to do; else the snapshot and the files
   * it added.
   */
  private[graft] def rewrite(
      spark: SparkSession,
      table: TokenTable,
      m: TableMetadata,
      op: String,
      units: Seq[Seq[DataFileMeta]],
      key: Any,
      targetFileBytes: Long,
      summary: Seq[DataFileMeta] => Map[String, String],
      transform: (DataFrame, Int, Long) => DataFrame = (rows, _, _) => rows,
      routed: Boolean = false,
      layout: Layout = SortBy(Seq("doc_id")),
      extra: (Long, Long) = (0L, 0L),
      dropped: Seq[DataFileMeta] = Nil,
      dropDeletePaths: Set[String] = Set.empty,
      declareSortOrder: Option[Seq[String]] = None): Option[(Snapshot, Seq[DataFileMeta])] = {
    if (units.isEmpty && dropped.isEmpty && dropDeletePaths.isEmpty) return None
    val victims = units.flatten
    val deletes = table.deleteEntriesOf(m)
    val ledger = new Ledger(table,
      Ledger.stepId(op, m, (key, targetFileBytes, victims.map(_.path).sorted).hashCode()))
    val done = ledger.completedUnits()
    val staged = units.zipWithIndex.flatMap { case (files, i) =>
      done.getOrElse(s"chunk-$i", {
        val input = table.readFiles(spark, files, deletes)
        val bytes = files.map(_.bytes).sum + extra._1
        val rows = files.map(_.records).sum + extra._2
        val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val out = transform(input, nOut, rows)
        val placed = layout match {
          // a curve keeps its global clustering shuffle, partitioned or not
          case _: ZOrder | _: Hilbert => applyLayout(out, layout, nOut, rows, input)
          // by partition TUPLE (+ a doc-hash salt sized so tuples x salt ~
          // nOut): a doc_id range shuffle would re-mix tuples across write
          // tasks and the aligned writer would re-split them per tuple,
          // re-creating small files; stageWrite's (tuple, doc_id) sort
          // orders each file
          case _ if m.spec.nonEmpty =>
            val tuples = math.max(1, files.flatMap(_.partition).distinct.size)
            graft.table.Partitioning.distributeByPartition(
              out, m.spec, nOut, math.max(1, math.ceil(nOut.toDouble / tuples).toInt))
          case _ if routed => out
          case _ => applyLayout(out, layout, nOut, rows, input)
        }
        val outs = table.stageWrite(placed, ledger.stagingJobId(s"chunk-$i"))
        ledger.record(s"chunk-$i", outs)
        Failpoints.hit("rewrite.after-unit")
        outs
      })
    }
    val replaced = victims ++ dropped
    val snap =
      try table.commit(op, staged, replaced.map(_.path).toSet,
        summary = summary(staged),
        replacedRange = TokenTable.docRange(replaced),
        readDeletePaths = Some(table.deletePathsOf(m)),
        dropDeletePaths = dropDeletePaths,
        declareSortOrder = declareSortOrder)
      catch {
        case e: CommitConflictException =>
          // a replan gets a new step id, so the abandoned ledger would leak
          // forever; its staged files are orphans for removeOrphans
          ledger.clear()
          throw e
      }
    ledger.clear()
    Some((snap, staged))
  }

  /** Range bounds are sampled from `sampleFrom`, the victims' read: it
    * spans the doc_ids of `input` and is cheaper to run than the transform
    * that made `input`. */
  private def applyLayout(
      input: DataFrame, layout: Layout, nOut: Int, totalRows: Long,
      sampleFrom: DataFrame): DataFrame = layout match {
    case Concat =>
      input.coalesce(nOut)
    case SortBy(Seq("doc_id")) =>
      placeByDocRange(input, Clustering.planDocRange(sampleFrom, nOut, Some(totalRows)), nOut)
    case SortBy(cols) =>
      input.repartitionByRange(nOut, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    case ZOrder(cols, bits) =>
      curveShuffle(input, cols, bits, hilbert = false, nOut, totalRows)
    case Hilbert(cols, bits) =>
      curveShuffle(input, cols, bits, hilbert = true, nOut, totalRows)
  }

  /** The one doc_id range placement, each output partition sorted by
    * doc_id: rows routed by `plan` to token-mass-balanced ranges — the
    * routed exchange skips repartitionByRange's runtime sampling
    * re-execution of the input scan; with no plan, one partition when one
    * file is planned, else a plain range exchange (a sample too small to
    * cut `nOut` ranges). */
  private def placeByDocRange(df: DataFrame, plan: Option[RangePlan], nOut: Int): DataFrame =
    (plan match {
      case Some(p) => df.withColumn("_rt", p.routeCol).repartition(p.nOut, col("_rt")).drop("_rt")
      case None if nOut <= 1 => df.coalesce(1)
      case None => df.repartitionByRange(nOut, col("doc_id"))
    }).sortWithinPartitions("doc_id")

  /** Curve re-cluster as a single-scan shuffle: the [[graft.functions.RangePlan]]
    * routes rows straight to token-mass-balanced partitions (no
    * repartitionByRange runtime sampling pass — that would re-decode every
    * token array once more) and the within-partition sort orders by the key.
    * When `tokens` is a packable int array the payload crosses the exchange
    * zigzag-delta-varint-packed ([[graft.functions.TokenCodec]], guide §2.3
    * "shuffle fewer bytes"): pack evaluates map-side, unpack reduce-side
    * after the sort, so both the exchange bytes and the sort buffer shrink
    * 2-4x while the written file is bit-identical. */
  private def curveShuffle(
      input: DataFrame, cols: Seq[String], bits: Int, hilbert: Boolean,
      nOut: Int, totalRows: Long): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField}
    val plan = Clustering.planCurveShuffle(input, cols, bits, hilbert, nOut, Some(totalRows),
      Some("n_tok").filter(input.columns.contains))
    // Some(element nullability) when the payload is packable
    val packable = input.schema.fields.collectFirst {
      case StructField("tokens", ArrayType(IntegerType, n), _, _) if !cols.contains("tokens") => n
    }
    def column(c: String) = ExpressionUtils.expression(col(c))
    def pack(df: DataFrame) = packable.fold(df)(_ =>
      df.withColumn("_pk", ExpressionUtils.column(PackTokens(column("tokens")))).drop("tokens"))
    def unpack(df: DataFrame) = packable.fold(df)(n =>
      df.withColumn("tokens", ExpressionUtils.column(UnpackTokens(column("_pk"), n))))
    unpack(pack(input.withColumn("_ck", plan.keyCol).withColumn("_rt", plan.routeCol))
      .repartition(plan.nOut, col("_rt"))
      .sortWithinPartitions(col("_ck")))
      .select(input.columns.toSeq.map(col): _*)
  }

  // ---------------------------------------------------------------- merge

  /**
   * Copy-on-write MERGE INTO: debounce the batch (last-write-wins per
   * doc_id — reference nodestream/databases/operation_debouncer.py:46-101;
   * planned by [[planDebounce]] against `targetFileBytes`), prune candidate
   * files by manifest min/max vs batch key range, rewrite
   * only touched files via a key-equality join, write with token-mass
   * balanced range partitioning (explicit skew handling), single snapshot.
   *
   * `batch` columns: doc_id, tokens, n_tok, source, optional `_seq` (ordering
   * for last-write-wins), optional `_op` ('upsert' | 'delete').
   * Creation rules per reference nodestream/model/creation_rules.py:
   * Eager = update + insert; MatchOnly = update only; Create = blind append.
   */
  def mergeInto(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame,
      rule: CreationRule.Value = CreationRule.Eager,
      targetFileBytes: Long = DefaultTargetFileBytes,
      extraSummary: Map[String, String] = Map.empty,
      preHooks: Seq[String] = Nil,
      postHooks: Seq[String] = Nil): Snapshot = {
    validateMergeBatch(batch)
    // Ingest hooks — arbitrary SQL run before/after the commit against views
    // of the batch and table state (reference nodestream/model/ingestion_hooks
    // .py:6-25; before at desired_ingestion.py:37-39, after-flush ordering at
    // debounced_ingest_strategy.py:76-81).
    if (preHooks.nonEmpty) {
      batch.createOrReplaceTempView("graft_merge_batch")
      table.scan(spark).createOrReplaceTempView("graft_merge_target")
      preHooks.foreach(spark.sql(_).collect())
    }
    def runPostHooks(): Unit = if (postHooks.nonEmpty) {
      table.scan(spark).createOrReplaceTempView("graft_merge_result")
      postHooks.foreach(spark.sql(_).collect())
    }

    if (rule == CreationRule.Create) {
      // Blind append — no join, no file rewrite, and a SINGLE consumer of
      // the debounced batch: caching it would materialize every row once
      // for nothing, so the write streams straight through the debounce.
      // A target of 0 keeps the debounce's shuffle: collapsed, a table
      // copy's scan and write ran in one task, 1.3-2x slower (3.6-25 MB).
      val added = table.stageWrite(
        planDebounce(batch, 0L)._1.filter(col("_op") === "upsert").drop("_op"),
        s"merge-append-${java.util.UUID.randomUUID()}")
      val snap = table.commit("merge", added, summary = Map("rule" -> "create") ++ extraSummary)
      runPostHooks()
      return snap
    }
    val (planned, oneTask) = planDebounce(batch, targetFileBytes)
    val debounced = planned.cache()
    val snap = try {
      // Manifest-level candidate-file pruning: a file is touched iff some
      // batch key falls inside its [minDocId, maxDocId]. Interval stabbing
      // via a codegen'd binary search, not a theta-join: RangeBucket over
      // the sorted distinct file endpoints maps every batch key to an
      // endpoint-interval id in one scan (O(|batch| log |files|)); the
      // distinct ids (<= 2|files|+1) mark each file whose endpoint-index
      // span they hit. Conservative at span edges (a hit in the bucket just
      // above a file's max can flag it) — pruning only ever
      // over-approximates, the key-equality join below stays exact.
      val m = table.metadata
      val live = table.liveFiles(m)
      // interleaving point for the regression test pinning the one-snapshot
      // rule: a MoR commit injected HERE must conflict at commit, not slip
      // its delete path into the planned set while its file is missing
      // from `live`
      Failpoints.hitCallback("merge.after-live")
      // Fused probe: one aggregate over the cached debounced batch yields
      // the pruning hits AND the batch (rows, token mass) in 2 jobs — AQE
      // runs the cache fill as its own — or 4 for a shuffled batch.
      val endpoints: Array[String] =
        live.flatMap(f => Seq(f.minDocId, f.maxDocId)).distinct.sorted.toArray
      val probeRows = pruneProbeAgg(debounced, endpoints).collect()
      val hits: Array[Int] = probeRows.map(_.getInt(0)).sorted
      val batchRows = probeRows.map(_.getLong(1)).sum
      val batchToks = probeRows.map(_.getLong(2)).sum
      val touched =
        if (live.isEmpty) Seq.empty else touchedByHits(live, endpoints, hits)
      // Batch bytes from live file stats (2.5 B/token is the observed
      // parquet density for int32 token streams on an empty table). Only
      // files that carry a token sum enter the ratio — files staged before
      // write-time stats may record sumNTok = 0 (unknown).
      val withSums = live.filter(_.sumNTok > 0)
      val bytesPerTok =
        if (withSums.nonEmpty)
          withSums.map(_.bytes).sum.toDouble / withSums.map(_.sumNTok).sum
        else 2.5
      val b = debounced.select(col("doc_id"), col("tokens").as("_b_tokens"), col("n_tok").as("_b_n_tok"),
        col("source").as("_b_source"), col("_op"), lit(true).as("_b_present"))

      def merged(target: DataFrame, nOut: Int, totalRows: Long): DataFrame = {
        // Route-partitioned join (guide §3.3): both sides are pre-partitioned
        // by the doc_id plan's route, and the join carries the route as a
        // leading key — Catalyst then recognizes the sides as co-partitioned,
        // so the join adds NO exchange and its output lands already
        // range-clustered. The plan samples the slim (doc_id, n_tok) view of
        // target ∪ batch, not the join (guide §1.2: fewer passes).
        // (the nOut test also spares building the sample frame)
        val plan =
          if (m.spec.nonEmpty || nOut <= 1) None
          else Clustering.planDocRange(target.select(col("doc_id"), col("n_tok"))
            .unionByName(debounced.select(col("doc_id"), col("n_tok"))), nOut, Some(totalRows))
        def side(df: DataFrame) =
          plan.fold(df)(p => df.withColumn("_mrt", p.routeCol).repartition(p.nOut, col("_mrt")))
        // One output file, unpartitioned, from a one-partition batch: a
        // one-partition target merge-joined to it (a broadcast is a job
        // more) plans no exchange.
        val (left, right) =
          if (oneTask && m.spec.isEmpty && nOut <= 1) (target.coalesce(1), b.hint("merge"))
          else (side(target), side(b))
        // full_outer (Eager): matched → batch wins; target-only → keep;
        // batch-only → insert. left_outer (MatchOnly): unmatched batch dropped.
        val result = left.join(right,
            if (plan.isEmpty) Seq("doc_id") else Seq("_mrt", "doc_id"),
            if (rule == CreationRule.MatchOnly) "left_outer" else "full_outer")
          // drop rows the batch deletes; batch-only delete rows also vanish here
          .filter(coalesce(col("_op") =!= "delete", lit(true)))
          // MatchOnly inserts nothing; Eager keeps batch-only rows as inserts
          .filter(coalesce(col("_b_present"), lit(false)) || col("tokens").isNotNull)
          .select(
            Seq(
              col("doc_id"),
              coalesce(col("_b_tokens"), col("tokens")).as("tokens"),
              coalesce(col("_b_n_tok"), col("n_tok")).as("n_tok"),
              coalesce(col("_b_source"), col("source")).as("source")) ++
              // evolved extra columns ride along from the target side (null
              // for freshly inserted rows — batch carries only the canonical
              // shape)
              target.columns.filterNot(Set("doc_id", "tokens", "n_tok", "source")).map(col): _*)
        // A partitioned table is distributed by tuple in `rewrite`. An
        // unpartitioned one is route-clustered by the join already, so a
        // local doc_id sort gives narrow per-file stats with no further
        // exchange; without a plan it takes the doc_id placement's other
        // rungs.
        if (m.spec.nonEmpty) result
        else if (plan.nonEmpty) withPartialKeyCoPartition(result.sortWithinPartitions("doc_id"))
        else placeByDocRange(result, None, nOut)
      }

      // The canonicalized batch plan hash keeps the step id deterministic
      // across reruns (semanticHash normalizes expression ids) yet distinct
      // for CONCURRENT merges from the same snapshot over the same files.
      rewrite(spark, table, m, "merge", Seq(touched),
        (rule.toString, batch.queryExecution.analyzed.semanticHash()), targetFileBytes,
        // Per-flush observed counters (the reference's
        // QueryExecutorWithStatistics, nodestream/databases/
        // query_executor_with_statistics.py), summed from the staged files'
        // write-time stats: zero extra jobs, and a resumed merge reports
        // them too.
        summary = staged => Map(
          "rule" -> rule.toString.toLowerCase,
          "touched-files" -> touched.size.toString,
          "observed-rows" -> staged.map(_.records).sum.toString,
          "observed-tokens" -> staged.map(_.sumNTok).sum.toString) ++ extraSummary,
        transform = merged, routed = true,
        extra = ((batchToks * bytesPerTok).toLong, batchRows)).get._1
    } finally debounced.unpersist()
    runPostHooks()
    snap
  }

  /** Reject a merge batch whose columns the MERGE paths would silently drop
    * or choke on. Both paths upsert the canonical sequence shape — evolved
    * extra columns ride along from the TARGET side on CoW (and come back
    * NULL on MoR, spec-pinned) — so a batch column outside that shape is
    * either a typo or data the caller wrongly believes will land; fail loud
    * instead of losing it. */
  private def validateMergeBatch(batch: DataFrame): Unit = {
    // single source of truth for the canonical shape — if the sequence
    // schema ever gains a field, the validator follows automatically
    val canonical = graft.table.TokenTable.sequenceSchema.fieldNames.toSeq
    val allowed = canonical.toSet ++ Set("_seq", "_op")
    val unknown = batch.columns.filterNot(allowed.contains)
    require(unknown.isEmpty,
      s"merge batch has columns MERGE does not carry: ${unknown.mkString(", ")} — " +
        s"batches hold the canonical shape (${canonical.mkString(", ")}) plus " +
        "optional _seq/_op; write evolved columns via append, or null them on " +
        "the batch side")
    val missing = canonical.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"merge batch is missing required columns: ${missing.mkString(", ")}")
  }

  /** The debounce of every merge, and whether it runs in one task: a batch
    * planned within one core's share of a target file (a micro-batch) is
    * collapsed to one partition first, which satisfies the aggregate's
    * clustering with no exchange; a larger or unsized batch keeps the
    * shuffle. On 4 cores and the default target (32 MB), collapsing made a
    * 23 MB copy-on-write merge 25% faster and a 56 MB merge-on-read one 2x
    * slower. */
  private def planDebounce(batch: DataFrame, targetFileBytes: Long): (DataFrame, Boolean) = {
    val plannedBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val oneTask = plannedBytes * batch.sparkSession.sparkContext.defaultParallelism <= targetFileBytes
    (debounceBatch(if (oneTask) batch.coalesce(1) else batch), oneTask)
  }

  /** Deterministic last-write-wins debounce per doc_id via max_by on
    * (_seq, content) — shared by the CoW and MoR merge paths through
    * [[planDebounce]]. Missing `_seq` defaults to 0, missing `_op` to
    * 'upsert'. */
  private def debounceBatch(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val withSeq =
      if (batch.columns.contains("_seq")) batch
      else batch.withColumn("_seq", lit(0L).cast(LongType))
    val withOp =
      if (withSeq.columns.contains("_op")) withSeq
      else withSeq.withColumn("_op", lit("upsert"))
    withOp
      .groupBy(col("doc_id"))
      .agg(max_by(
        struct(col("tokens"), col("n_tok"), col("source"), col("_op")),
        struct(col("_seq"), col("n_tok"), col("tokens"))).as("_r"))
      .select(col("doc_id"), col("_r.tokens").as("tokens"), col("_r.n_tok").as("n_tok"),
        col("_r.source").as("source"), col("_r._op").as("_op"))
  }

  /**
   * Merge-on-read MERGE: the batch commits as equality-delete keys for every
   * batch doc_id PLUS an append of the surviving upsert rows — ONE snapshot,
   * O(batch) work however large the table, where copy-on-write [[mergeInto]]
   * is O(touched file bytes). Sequence numbers make it correct: the staged
   * keys and the appended file share the commit's sequence and a delete
   * applies only to STRICTLY lower sequences, so the batch's own rows
   * survive while every older version of a batch key is masked; `_op =
   * 'delete'` rows contribute a key and no row. Scans pay the anti-join
   * until compaction or [[materializeDeletes]] retires the keys — exactly
   * Iceberg's MoR upsert trade, and the right streaming-ingest shape at
   * 10^12 sequences (a CoW merge per micro-batch would rewrite the same hot
   * files every few seconds). Eager semantics only (update + insert);
   * the doc_id-unique table invariant of [[deleteWhereMor]] applies.
   *
   * FULL-ROW upsert semantics: the batch row IS the row. mergeMor never
   * reads target values — that is exactly what keeps it O(batch) — so on a
   * schema-evolved table, columns absent from the batch come back NULL for
   * updated rows, where the CoW [[mergeInto]] preserves target-side values
   * at O(touched-file) cost. Choose CoW when evolved columns must survive
   * updates; the divergence is spec-pinned (MorMergeSpec).
   *
   * Concurrency: racing REWRITES (compact/cluster/CoW merge/materialize)
   * validate at commit that no delete keys landed after they planned
   * (TokenTable.commit readDeletePaths) and conflict instead of restamping
   * rows past this merge's keys — without that check a concurrent rewrite
   * would silently resurrect deleted rows and un-do updates.
   *
   * File shape: the debounced batch is staged by ONE write, split on the
   * derived flag `_op = 'upsert'` (null counts as false). Files under the
   * flag's `true` directory hold the surviving rows and are both data files
   * and delete-key entries of the commit; files under `false` hold the
   * batch's delete keys, with the payload columns nulled, and are delete-key
   * entries only. Both kinds carry the commit's sequence, and a delete
   * applies only to strictly lower sequences, so a file's keys never mask
   * its own rows. [[planDebounce]] plans the debounce against the default
   * target file size: a micro-batch runs one Spark job (the write, uncached, no
   * exchange) and commits at most one file of each kind (per partition
   * tuple on a partitioned table), stats folded by the writer. Returns
   * None, and commits nothing, for an empty batch.
   */
  def mergeMor(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Option[Snapshot] = {
    validateMergeBatch(batch)
    val debounced = planDebounce(batch, DefaultTargetFileBytes)._1
    val upsert = "_upsert"
    val isUpsert = coalesce(col("_op") === "upsert", lit(false))
    def payload(c: String) = when(isUpsert, col(c)).as(c)
    val staged = table.stageWrite(
      debounced.select(col("doc_id"), payload("tokens"), payload("n_tok"), payload("source"),
        isUpsert.as(upsert)),
      s"merge-mor-${java.util.UUID.randomUUID()}", splitBy = Some(upsert))
    // nothing staged: an empty batch
    if (staged.isEmpty) None
    else Some(table.commit("merge-mor", staged.filter(TokenTable.stagedUnder(_, upsert)),
      addDeletes = staged,
      summary = Map(
        "rule" -> "eager-mor",
        "delete-keys" -> staged.map(_.records).sum.toString) ++ extraSummary))
  }

  /**
   * MERGE with optimistic-concurrency retry: on a [[CommitConflictException]]
   * (a concurrent writer rewrote one of this merge's victim files between
   * planning and commit) the merge REPLANS from the winner's state — fresh
   * file list, fresh pruning, fresh join — and tries again, exactly
   * Iceberg's commit.retry loop. The abandoned attempt's staged files become
   * orphans collected by removeOrphans. Version-rename races (both writers
   * produce valid non-conflicting commits) are already retried inside
   * [[TokenTable.commit]] without replanning; this wrapper handles the
   * stronger conflict where validation itself fails.
   */
  def mergeIntoRetrying(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame,
      rule: CreationRule.Value = CreationRule.Eager,
      maxAttempts: Int = 5,
      targetFileBytes: Long = DefaultTargetFileBytes): Snapshot = {
    var attempt = 1
    while (true) {
      try return mergeInto(spark, table, batch, rule, targetFileBytes,
        extraSummary = Map("merge-attempt" -> attempt.toString))
      catch {
        case e: graft.table.CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
          table.refresh() // replan against the winning writer's snapshot
      }
    }
    sys.error("unreachable")
  }

  /** The batch side of the pruning probe: every batch key mapped to its
    * endpoint-interval id by a codegen'd binary search (one scan, distinct
    * ids bounded by 2|files|+1). Exposed for plan evidence (PLANS.md) —
    * the probe must never plan as a BroadcastNestedLoopJoin. The live
    * merge path runs the fused [[pruneProbeAgg]] form of the same probe. */
  def pruneProbe(batchKeys: DataFrame, endpoints: Array[String]): DataFrame =
    batchKeys.select(endpointInterval(endpoints)).distinct()

  /** One-job fusion of the pruning probe and the batch-size estimate: per
    * endpoint-interval id → (row count, token mass). The distinct ids drive
    * file pruning exactly like [[pruneProbe]], while the per-group totals
    * replace what used to be a SECOND aggregation job over the batch
    * (guide §1.2: fewer passes). */
  private def pruneProbeAgg(batch: DataFrame, endpoints: Array[String]): DataFrame =
    batch.groupBy(endpointInterval(endpoints))
      .agg(count(lit(1)).as("_n"),
        coalesce(sum(col("n_tok").cast("long")), lit(0L)).as("_toks"))

  /** `_b`: the endpoint-interval id of each row's doc_id. */
  private def endpointInterval(endpoints: Array[String]): Column =
    ExpressionUtils.column(RangeBucket(ExpressionUtils.expression(col("doc_id")),
      endpoints.map(s => org.apache.spark.unsafe.types.UTF8String.fromString(s): AnyRef)))
      .as("_b")

  /** Interval-stabbing file selection from collected probe hit ids. */
  private def touchedByHits(
      live: Seq[DataFileMeta], endpoints: Array[String],
      hits: Array[Int]): Seq[DataFileMeta] = {
    def anyHitIn(lo: Int, hi: Int): Boolean = {
      var l = 0; var h = hits.length
      while (l < h) { val m = (l + h) >>> 1; if (hits(m) < lo) l = m + 1 else h = m }
      l < hits.length && hits(l) <= hi
    }
    val idx: Map[String, Int] = endpoints.zipWithIndex.toMap
    live.filter(f => anyHitIn(idx(f.minDocId), idx(f.maxDocId)))
  }

  /** `df` planned with partial-key co-partitioning allowed: the route-join's
    * HashPartitioning on the leading `_mrt` key must be accepted as
    * co-partitioning for join keys (_mrt, doc_id) — Spark's default
    * (`spark.sql.requireAllClusterKeysForCoPartition=true`) otherwise
    * replaces the route exchange with a full-key hash shuffle, scattering
    * the output's doc ranges. Safe here because the route is token-mass
    * balanced by construction (the skew the default guards against). The
    * key is set on a clone of the session, so the relaxation reaches this
    * merge's plan only, never other queries on the caller's session. */
  private def withPartialKeyCoPartition(df: DataFrame): DataFrame = {
    val merge = PlanBridge.cloneSession(df.sparkSession)
    merge.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    PlanBridge.ofRows(merge, df.queryExecution.logical)
  }

  /**
   * FUZZY-rule merge (reference nodestream/model/creation_rules.py FUZZY:
   * node matched by pattern instead of exact key): each batch row carries a
   * `doc_pattern` regex; every live row whose doc_id matches gets the batch
   * row's payload. Executed as a broadcast theta-join (the batch is small by
   * construction — patterns are human-authored rules). Copy-on-write over
   * only the files a pattern can possibly match when every pattern is
   * start-anchored with a literal prefix (range-pruned via
   * [[literalPrefix]]/[[prefixSuccessor]]); an arbitrary regex cannot be
   * range-pruned and rewrites everything. Never inserts, so a batch no
   * file can match returns None and commits nothing.
   * When several patterns match one row, the lexicographically-largest
   * pattern wins (deterministic).
   */
  def mergeFuzzy(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame, // doc_pattern, tokens, n_tok, source
      targetFileBytes: Long = DefaultTargetFileBytes): Option[Snapshot] = {
    val m = table.metadata
    val live = table.liveFiles(m)
    // Literal-prefix fast path: when EVERY pattern is anchored with a literal
    // prefix (`^doc00042…`), a file can only contain matches if its doc_id
    // range intersects [prefix, prefixSuccessor) — the common
    // human-authored-rule shape then rewrites a handful of files instead of
    // the whole table. Any non-prefixable pattern forces the full rewrite
    // (an unanchored regex can match anywhere; pruning must never drop a
    // possible match).
    val patterns = batch.select(col("doc_pattern")).distinct()
      .collect().map(_.getString(0)).toSeq
    val prefixes = patterns.map(literalPrefix)
    val touched: Seq[DataFileMeta] =
      if (prefixes.exists(_.isEmpty)) live
      else live.filter(f => prefixes.flatten.exists(p =>
        f.maxDocId >= p && prefixSuccessor(p).forall(f.minDocId < _)))
    val b = broadcast(batch.select(
      col("doc_pattern"),
      col("tokens").as("_b_tokens"), col("n_tok").as("_b_n_tok"),
      col("source").as("_b_source")))
    def matched(target: DataFrame): DataFrame = {
      // Evolved extra columns ride along inside the max_by struct (same
      // preservation contract as mergeInto) — a fuzzy merge over a
      // schema-evolved table must not null out columns added since.
      val extras = target.columns.filterNot(Set("doc_id", "tokens", "n_tok", "source")).toSeq
      target.join(b, regexp_like(col("doc_id"), col("doc_pattern")), "left_outer")
        .groupBy(col("doc_id"))
        .agg(max_by(
          struct((Seq("tokens", "n_tok", "source", "_b_tokens", "_b_n_tok", "_b_source")
            ++ extras).map(col): _*),
          coalesce(col("doc_pattern"), lit(""))).as("_r"))
        .select(
          Seq(
            col("doc_id"),
            coalesce(col("_r._b_tokens"), col("_r.tokens")).as("tokens"),
            coalesce(col("_r._b_n_tok"), col("_r.n_tok")).as("n_tok"),
            coalesce(col("_r._b_source"), col("_r.source")).as("source")) ++
            extras.map(c => col(s"_r.$c").as(c)): _*)
    }
    rewrite(spark, table, m, "merge", Seq(touched).filter(_.nonEmpty),
      batch.queryExecution.analyzed.semanticHash(), targetFileBytes,
      summary = _ => Map("rule" -> "fuzzy",
        "touched-files" -> touched.size.toString,
        "pruned-files" -> (live.size - touched.size).toString),
      transform = (target, _, _) => matched(target)).map(_._1)
  }

  /** Longest literal prefix every match of `pattern` must start with, when
    * the pattern is start-anchored and opens with literal characters; None
    * when no prefix can be proven (unanchored, a leading metacharacter, or a
    * TOP-LEVEL alternation — `^doc1|doc9` matches "doc9" anywhere, so the
    * anchor does not constrain the second branch and pruning on "doc1"
    * would silently skip its matches). A quantifier directly after the
    * literal run makes its last character optional, so it is excluded. */
  private[graft] def literalPrefix(pattern: String): Option[String] = {
    if (!pattern.startsWith("^")) return None
    if (hasTopLevelAlternation(pattern)) return None
    val meta = ".^$*+?()[]{}|\\"
    val sb = new StringBuilder
    var i = 1
    while (i < pattern.length && meta.indexOf(pattern.charAt(i)) < 0) {
      sb += pattern.charAt(i); i += 1
    }
    if (i < pattern.length && "*?{".indexOf(pattern.charAt(i)) >= 0 && sb.nonEmpty)
      sb.setLength(sb.length - 1)
    if (sb.isEmpty) None else Some(sb.toString)
  }

  /** '|' at nesting depth 0 (outside groups/classes, unescaped) — the anchor
    * then applies to only the first branch. */
  private def hasTopLevelAlternation(pattern: String): Boolean = {
    var depth = 0
    var inClass = false
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\'             => i += 1 // skip escaped char
        case '[' if !inClass  => inClass = true
        case ']' if inClass   => inClass = false
        case '(' if !inClass  => depth += 1
        case ')' if !inClass  => depth -= 1
        case '|' if !inClass && depth == 0 => return true
        case _                => ()
      }
      i += 1
    }
    false
  }

  /** Smallest string strictly greater than every string with prefix `p`
    * (None when no such string exists — all chars at Char.MaxValue). */
  private[graft] def prefixSuccessor(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  // ------------------------------------------------------------- TTL delete

  /** Structured delete predicate — structured (not an opaque Column) so the
    * planner can *prove* whole-file deletes from manifest min/max stats and
    * drop those files metadata-only, reading zero bytes. */
  sealed trait DeletePredicate {
    def toColumn: Column
    /** file entirely matches → metadata-only drop */
    def coversFile(f: DataFileMeta): Boolean
    /** file may contain matches → rewrite candidate */
    def intersectsFile(f: DataFileMeta): Boolean
  }
  case class SourceIn(sources: Set[String]) extends DeletePredicate {
    def toColumn: Column = col("source").isin(sources.toSeq: _*)
    def coversFile(f: DataFileMeta): Boolean = f.sourceCovers(sources)
    def intersectsFile(f: DataFileMeta): Boolean = f.sourceIntersects(sources)
  }
  case class NTokGreaterThan(x: Int) extends DeletePredicate {
    def toColumn: Column = col("n_tok") > x
    def coversFile(f: DataFileMeta): Boolean = f.minNTok > x
    def intersectsFile(f: DataFileMeta): Boolean = f.maxNTok > x
  }
  case class DocIdBetween(lo: String, hi: String) extends DeletePredicate {
    def toColumn: Column = col("doc_id") >= lo && col("doc_id") <= hi
    def coversFile(f: DataFileMeta): Boolean = f.minDocId >= lo && f.maxDocId <= hi
    def intersectsFile(f: DataFileMeta): Boolean = f.maxDocId >= lo && f.minDocId <= hi
  }

  /**
   * Delete-by-predicate (the reference's TTL op, nodestream/model/ttl.py:11-29,
   * executed at nodestream/databases/debounced_ingest_strategy.py:44-47):
   * metadata-only drop for files provably all-matching, copy-on-write rewrite
   * for files that straddle the predicate, untouched files carried forward.
   */
  def deleteWhere(
      spark: SparkSession,
      table: TokenTable,
      pred: DeletePredicate,
      targetFileBytes: Long = DefaultTargetFileBytes): Option[Snapshot] = {
    val m = table.metadata
    val (fullyCovered, partial) = coveredAndPartial(table.liveFiles(m), pred)
    rewrite(spark, table, m, "delete", Seq(partial).filter(_.nonEmpty), pred.toString,
      targetFileBytes,
      summary = _ => Map(
        "predicate" -> pred.toString,
        "metadata-only-deleted-files" -> fullyCovered.size.toString,
        "rewritten-files" -> partial.size.toString),
      transform = (rows, _, _) => rows.filter(!pred.toColumn),
      dropped = fullyCovered).map(_._1)
  }

  /** Live files `pred` provably covers (dropped metadata-only) and those it
    * may only partly match. */
  private def coveredAndPartial(
      live: Seq[DataFileMeta], pred: DeletePredicate): (Seq[DataFileMeta], Seq[DataFileMeta]) =
    (live.filter(pred.coversFile), live.filter(f => pred.intersectsFile(f) && !pred.coversFile(f)))

  /**
   * Merge-on-read delete: stage the matching doc_id keys as equality-delete
   * files and commit — O(deleted keys), while copy-on-write [[deleteWhere]]
   * is O(touched file bytes). At 100 TB, deleting 0.1% of rows scattered
   * across every file rewrites the whole table under CoW; here it writes a
   * key set three orders of magnitude smaller. Files whose stats PROVE every
   * row matches still drop metadata-only (no keys staged for them). Scans
   * apply pending deletes as an anti-join ([[TokenTable.readFiles]]);
   * compaction / clustering / MERGE materialize them for free as files are
   * rewritten (rewrites read through the same path and restamp sequence
   * numbers); [[materializeDeletes]] forces the rewrite and retires the key
   * files. The CoW/MoR trade is the caller's: CoW keeps scans pristine,
   * MoR makes the delete itself cheap — exactly Iceberg's two modes.
   *
   * Key invariant: equality deletes are doc_id-KEYED, so MoR matches CoW
   * row-for-row only when doc_id is unique among lower-sequence rows (the
   * table contract every merge path maintains; plain commit("append") does
   * not enforce it). With duplicate doc_ids a staged key deletes every
   * lower-sequence row carrying it — non-matching duplicates included —
   * which is equality-delete semantics, not predicate semantics. Callers
   * appending duplicate keys must use [[deleteWhere]] (predicate CoW).
   */
  def deleteWhereMor(
      spark: SparkSession,
      table: TokenTable,
      pred: DeletePredicate): Option[Snapshot] = {
    val m = table.metadata // one planning snapshot (see rewrite)
    val (fullyCovered, partial) = coveredAndPartial(table.liveFiles(m), pred)
    val keys =
      if (partial.isEmpty) Seq.empty
      else table.stageDeleteKeys(
        // readFiles applies the planning snapshot's pending deletes, so
        // already-deleted rows never re-stage their keys.
        table.readFiles(spark, partial, table.deleteEntriesOf(m))
          .filter(pred.toColumn).select(col("doc_id")),
        s"mor-${java.util.UUID.randomUUID()}")
    if (fullyCovered.isEmpty && keys.isEmpty) return None
    Some(table.commit("delete-mor", Seq.empty,
      replaced = fullyCovered.map(_.path).toSet,
      summary = Map(
        "predicate" -> pred.toString,
        "metadata-only-deleted-files" -> fullyCovered.size.toString,
        "delete-key-files" -> keys.size.toString,
        "delete-keys" -> keys.map(_.records).sum.toString),
      replacedRange = TokenTable.docRange(fullyCovered),
      addDeletes = keys))
  }

  /**
   * Force-materialize pending merge-on-read deletes: rewrite exactly the
   * files some delete still applies to ([[TokenTable.deleteApplies]]: a
   * higher sequence and an intersecting doc range — untouched ranges are
   * never read), then retire every delete key file. The rewrite reads its
   * victims through ONE anti-join ([[TokenTable.readFiles]]) however many
   * commits are pending, then writes: two Spark jobs. After this, scans are
   * anti-join-free again.
   */
  def materializeDeletes(
      spark: SparkSession,
      table: TokenTable,
      targetFileBytes: Long = DefaultTargetFileBytes): Option[Snapshot] = {
    val m = table.metadata
    val deletes = table.deleteEntriesOf(m)
    if (deletes.isEmpty) return None
    val affected = table.liveFiles(m).filter(f => deletes.exists(TokenTable.deleteApplies(_, f)))
    rewrite(spark, table, m, "materialize-deletes", Seq(affected).filter(_.nonEmpty),
      deletes.map(_.path).sorted, targetFileBytes,
      summary = _ => Map(
        "rewritten-files" -> affected.size.toString,
        "retired-delete-files" -> deletes.size.toString),
      dropDeletePaths = deletes.map(_.path).toSet).map(_._1)
  }

  // ------------------------------------------------------- manifest rewrite

  /** Metadata-only manifest rewrite: regroup live file entries into manifests
    * of ~`entriesPerManifest`, ordered by minDocId, so range-pruned scans
    * touch few manifests. No data is read or written. */
  def rewriteManifests(table: TokenTable, entriesPerManifest: Int = 1000): Snapshot = {
    val live = table.liveFiles().sortBy(_.minDocId)
    val groups = live.grouped(math.max(1, entriesPerManifest)).toSeq
    table.commitManifestGroups("rewrite-manifests", groups)
  }

  // ---------------------------------------------------------------- helpers

  private[graft] def binPack(files: Seq[DataFileMeta], targetBytes: Long): Seq[Seq[DataFileMeta]] = {
    val sorted = files.sortBy(-_.bytes)
    val bins = scala.collection.mutable.ArrayBuffer[(scala.collection.mutable.ArrayBuffer[DataFileMeta], Long)]()
    sorted.foreach { f =>
      bins.indexWhere(_._2 + f.bytes <= targetBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(f), f.bytes))
        case i =>
          val (buf, sz) = bins(i)
          buf += f
          bins(i) = (buf, sz + f.bytes)
      }
    }
    bins.map(_._1.toSeq).toSeq
  }
}
