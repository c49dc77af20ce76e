package graft.maintenance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, RangeBucket}
import graft.table.{DataFileMeta, Snapshot, TokenTable}

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

  private val planDumpSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Plan-evidence hook: when SPARK_GRAFT_PLAN_DIR is set, write the
    * formatted physical plan of an internal write frame to
    * `<dir>/<name>-<k>.txt` (the maintenance actions execute eagerly, so
    * query-level explain cannot show these plans). No-op otherwise. */
  private[graft] def debugPlan(name: String, df: DataFrame): Unit =
    sys.env.get("SPARK_GRAFT_PLAN_DIR").foreach { dir =>
      try {
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.writeString(
          p.resolve(s"$name-${planDumpSeq.incrementAndGet()}.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      } catch { case _: Throwable => () }
    }

  // ------------------------------------------------------------- compaction

  /**
   * Bin-packing small-file compaction + optional re-clustering, executed as
   * resumable chunks. Victims are bin-packed first-fit-decreasing into bins
   * of ~targetFileBytes; bins are grouped into `chunks` independent Spark
   * jobs, each staged + ledger-recorded so a killed run resumes without
   * recomputing finished chunks; one atomic snapshot swap at the end.
   *
   * Spark shape per chunk: file-list scan → (optional curve key) →
   * `repartitionByRange` (single shuffle) → `sortWithinPartitions` → write.
   */
  def compact(
      spark: SparkSession,
      table: TokenTable,
      layout: Layout = SortBy(Seq("doc_id")),
      targetFileBytes: Long = DefaultTargetFileBytes,
      smallFileThreshold: Option[Long] = None, // None = rewrite ALL files (full re-cluster)
      chunks: Int = 8,
      operation: String = "compact"): Option[Snapshot] = {
    // ONE immutable metadata snapshot for the whole planning pass: victims,
    // pending-delete paths, the read-time delete entries, spec and the
    // stepId's snapshot id all come from `m`. Deriving them from separate
    // reads of the live table races a concurrent merge-on-read commit (see
    // TokenTable "snapshot-consistent planning views"). A stale `m` is safe —
    // commit validation conflicts on anything that landed since — so no
    // refresh: the caller decides how fresh its planning view is.
    val m = table.metadata
    val live = table.liveFiles(m)
    val plannedDeletes = table.deletePathsOf(m)
    val plannedDeleteEntries = table.deleteEntriesOf(m)
    val threshold = smallFileThreshold.getOrElse(Long.MaxValue)
    val victims = live.filter(_.bytes < threshold)
    // A compact of < 2 files has nothing to merge; a re-CLUSTER of even one
    // file is real work — the rewrite reorders its rows on the curve.
    if (if (operation == "compact") victims.size < 2 else victims.isEmpty)
      return None

    val stepId = deterministicStepId(operation, m.currentSnapshotId, layout, targetFileBytes, victims)
    val ledger = new Ledger(table, stepId)
    val done = ledger.completedUnits()

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
    val chunkGroups: Seq[(String, Seq[DataFileMeta])] =
      bins.zipWithIndex
        .groupBy(_._2 % math.max(1, math.min(chunks, bins.size)))
        .toSeq.sortBy(_._1)
        .map { case (i, bs) => (s"chunk-$i", bs.flatMap(_._1)) }

    val staged: Seq[DataFileMeta] = chunkGroups.flatMap { case (unitId, files) =>
      done.get(unitId) match {
        case Some(outs) => outs // resumed: reuse staged output, no recompute
        case None =>
          val stagingDir = new Path(table.dataDir, s"$stepId/$unitId")
          if (table.fs.exists(stagingDir)) table.fs.delete(stagingDir, true) // partial crash leftovers
          val input = table.readFiles(spark, files, plannedDeleteEntries)
          val nOut = math.max(1, math.ceil(files.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
          val rows = files.map(_.records).sum
          val spec = m.spec
          val layouted = layout match {
            // Partitioned concat/sort chunks distribute by partition TUPLE
            // (+ doc-hash salt for oversized tuples): a doc_id range shuffle
            // would re-mix tuples across write tasks and the aligned writer
            // would re-split them per tuple — re-creating the small files
            // the per-tuple bins were packed to fix. stageWrite's
            // (tuple, doc_id) sort provides the within-file order. Curve
            // layouts keep the global clustering shuffle by design.
            case Concat | _: SortBy if spec.nonEmpty =>
              val tuples = math.max(1, files.flatMap(_.partition).distinct.size)
              graft.table.Partitioning.distributeByPartition(
                input, spec, nOut, math.max(1, math.ceil(nOut.toDouble / tuples).toInt))
            case _ => applyLayout(input, layout, nOut, rows)
          }
          debugPlan(s"$operation-layouted", layouted)
          val outs = table.stageWrite(layouted, s"$stepId/$unitId")
          ledger.record(unitId, outs)
          Failpoints.hit("compact.after-chunk")
          outs
      }
    }
    val snap =
      try table.commit(
        operation, staged, victims.map(_.path).toSet,
        summary = Map(
          "layout" -> layout.describe,
          "target-file-bytes" -> targetFileBytes.toString,
          "input-files" -> victims.size.toString,
          "input-records" -> victims.map(_.records).sum.toString),
        replacedRange = TokenTable.docRange(victims),
        readDeletePaths = Some(plannedDeletes),
        // a full re-cluster declares its layout atomically with the data
        // commit; a binpack compact declares nothing
        declareSortOrder =
          if (operation == "cluster" && layout != Concat) Some(Seq(layout.describe))
          else None)
      catch {
        case e: graft.table.CommitConflictException =>
          // stale victim set: a replanned compact gets a new stepId, so the
          // abandoned ledger would leak forever — clear it now
          ledger.clear()
          throw e
      }
    ledger.clear()
    Some(snap)
  }

  /** Full-table re-cluster on a space-filling curve (zorder/hilbert). */
  def cluster(
      spark: SparkSession,
      table: TokenTable,
      layout: Layout,
      targetFileBytes: Long = DefaultTargetFileBytes,
      chunks: Int = 1): Option[Snapshot] = {
    // One chunk: a curve re-cluster is a single global repartitionByRange so
    // key ranges do not straddle chunk boundaries. The declared clustering
    // rides the cluster commit itself (TokenTable.commit declareSortOrder) —
    // atomically, so no crash window can leave clustered data undeclared.
    // The declaration is Iceberg write-order semantics: the layout the
    // table WAS last clustered to, not a per-file guarantee — later appends
    // and binpack compacts do not clear it.
    compact(spark, table, layout, targetFileBytes, smallFileThreshold = None,
      chunks = chunks, operation = "cluster")
  }

  private def applyLayout(
      input: DataFrame, layout: Layout, nOut: Int, totalRows: Long): DataFrame = layout match {
    case Concat =>
      input.coalesce(nOut)
    // doc_id sort with a token-mass weight column available: the routed
    // partitioner both balances token mass (vs repartitionByRange's row
    // balance under the 1% long-doc skew) and skips the range partitioner's
    // runtime sampling re-execution of the input scan
    case SortBy(cols) if cols == Seq("doc_id") && input.columns.contains("n_tok") =>
      repartitionByTokenMass(input, nOut, Some(totalRows))
    case SortBy(cols) =>
      input.repartitionByRange(nOut, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    case ZOrder(cols, bits) =>
      curveShuffle(input, cols, bits, hilbert = false, nOut, totalRows)
    case Hilbert(cols, bits) =>
      curveShuffle(input, cols, bits, hilbert = true, nOut, totalRows)
  }

  /** Curve re-cluster as a single-scan shuffle: the [[graft.functions.CurvePlan]]
    * routes rows straight to token-mass-balanced partitions (no
    * repartitionByRange runtime sampling pass — that would re-decode every
    * token array once more) and the within-partition sort orders by the key.
    * The token payload crosses the exchange zigzag-delta-varint-packed
    * ([[graft.functions.TokenCodec]], guide §2.3 "shuffle fewer bytes"):
    * pack evaluates map-side, unpack reduce-side after the sort, so both the
    * exchange bytes and the sort buffer shrink 2-4x while the written file
    * is bit-identical. */
  private def curveShuffle(
      input: DataFrame, cols: Seq[String], bits: Int, hilbert: Boolean,
      nOut: Int, totalRows: Long): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val weight = if (input.columns.contains("n_tok")) Some("n_tok") else None
    val plan = Clustering.planCurveShuffle(
      input, cols, bits, hilbert, nOut, Some(totalRows), weight)
    val packable = input.schema.fields.find(_.name == "tokens").map(_.dataType) match {
      case Some(ArrayType(IntegerType, _)) => !cols.contains("tokens")
      case _ => false
    }
    if (!packable) {
      input.withColumn("_ck", plan.keyCol).withColumn("_rt", plan.routeCol)
        .repartition(plan.nOut, col("_rt"))
        .sortWithinPartitions(col("_ck"))
        .drop("_ck", "_rt")
    } else {
      val elemNullable = input.schema("tokens").dataType
        .asInstanceOf[ArrayType].containsNull
      val order = input.columns.toSeq
      input
        .withColumn("_ck", plan.keyCol).withColumn("_rt", plan.routeCol)
        .withColumn("_pk", ExpressionUtils.column(
          graft.functions.PackTokens(ExpressionUtils.expression(col("tokens")))))
        .drop("tokens")
        .repartition(plan.nOut, col("_rt"))
        .sortWithinPartitions(col("_ck"))
        .withColumn("tokens", ExpressionUtils.column(graft.functions.UnpackTokens(
          ExpressionUtils.expression(col("_pk")), elemNullable)))
        .select(order.map(col): _*)
    }
  }

  // ---------------------------------------------------------------- merge

  /**
   * Copy-on-write MERGE INTO: debounce the batch (last-write-wins per
   * doc_id — reference nodestream/databases/operation_debouncer.py:46-101),
   * prune candidate files by manifest min/max vs batch key range, rewrite
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
      val added = table.stageWrite(
        debounceBatch(batch).filter(col("_op") === "upsert").drop("_op"),
        s"merge-append-${java.util.UUID.randomUUID()}")
      val snap = table.commit("merge", added, summary = Map("rule" -> "create") ++ extraSummary)
      runPostHooks()
      return snap
    }
    val mDbg = sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")
    val mT0 = System.nanoTime()
    val debounced = debounceBatch(batch).cache()

    // Manifest-level candidate-file pruning: a file is touched iff some batch
    // key falls inside its [minDocId, maxDocId]. Interval stabbing via a
    // codegen'd binary search, not a theta-join: RangeBucket over the sorted
    // distinct file endpoints maps every batch key to an endpoint-interval id
    // in one scan (O(|batch| log |files|)); the distinct ids (<= 2|files|+1,
    // bounded by file count like the old path's collect) mark each file whose
    // endpoint-index span they hit. Conservative at span edges (a hit in the
    // bucket just above a file's max can flag it) — pruning only ever
    // over-approximates, the key-equality join below stays exact.
    // One immutable metadata snapshot per planning pass (see compact): the
    // victim set, the pending-delete paths the commit validates against, and
    // the deletes applied while reading victims must agree — separate reads
    // of the live table let a racing mergeMor slip its delete into
    // plannedDeletes while its appended file is missing from `live`,
    // committing a duplicate doc_id.
    val m = table.metadata
    val live = table.liveFiles(m)
    // interleaving point for the regression test pinning the one-snapshot
    // rule: a MoR commit injected HERE must conflict at commit, not slip its
    // delete path into the planned set while its file is missing from `live`
    Failpoints.hitCallback("merge.after-live")
    val plannedDeletes = table.deletePathsOf(m)
    // Fused probe: ONE aggregation job over the cached debounced batch
    // yields the pruning hits AND the batch (rows, token mass) that the old
    // path collected in two separate jobs.
    val endpoints: Array[String] =
      live.flatMap(f => Seq(f.minDocId, f.maxDocId)).distinct.sorted.toArray
    val probeRows = pruneProbeAgg(debounced, endpoints).collect()
    val mT1 = System.nanoTime()
    val hits: Array[Int] = probeRows.map(_.getInt(0)).sorted
    val batchRows = probeRows.map(_.getLong(1)).sum
    val batchToks = probeRows.map(_.getLong(2)).sum
    val touched =
      if (live.isEmpty) Seq.empty else touchedByHits(live, endpoints, hits)
    val touchedPaths: Set[String] = touched.map(_.path).toSet

    val target = table.readFiles(spark, touched, table.deleteEntriesOf(m))
    val b = debounced
      .withColumnRenamed("tokens", "_b_tokens").withColumnRenamed("n_tok", "_b_n_tok")
      .withColumnRenamed("source", "_b_source")
      .withColumn("_b_present", lit(true))

    // Output sizing from manifest stats + the fused probe (bytes/token from
    // live file footers; 2.5 B/token is the observed parquet density for
    // int32 token streams on an empty table). Only files that actually
    // carry a token sum enter the ratio — footer-derived entries record
    // sumNTok = 0 (unknown) while observation/scan-derived entries record
    // the exact sum, and a mixed manifest would otherwise overstate
    // bytes/token by dividing all bytes by a partial sum.
    val withSums = live.filter(_.sumNTok > 0)
    val bytesPerTok =
      if (withSums.nonEmpty)
        withSums.map(_.bytes).sum.toDouble / withSums.map(_.sumNTok).sum
      else 2.5
    val outBytes = touched.map(_.bytes).sum + (batchToks * bytesPerTok).toLong
    val nOut = math.max(1, math.ceil(outBytes.toDouble / targetFileBytes).toInt)
    val totalRows = touched.map(_.records).sum + batchRows
    // slim (doc_id, n_tok) view of target ∪ batch — equivalently distributed
    // to the merged result, so range bounds sample the column-pruned INPUTS
    // instead of re-executing the whole join (guide §1.2: fewer passes)
    def slimInputs: DataFrame = target.select(col("doc_id"), col("n_tok"))
      .unionByName(debounced.select(col("doc_id"), col("n_tok")))

    // Route-partitioned join (guide §3.3): both sides are pre-partitioned by
    // a token-mass-balanced doc_id range bucket routed through Murmur3
    // preimages, and the join carries the route as a leading key — Catalyst
    // then recognizes the sides as co-partitioned (HashPartitioning on a
    // join-key subset), so the join adds NO exchange and its output lands
    // already range-clustered: the old post-join repartitionByTokenMass
    // exchange (a full second pass of the merged payload, plus
    // repartitionByRange's sampling re-execution of the join) disappears.
    val bounds: Option[Array[AnyRef]] =
      if (m.spec.nonEmpty || nOut <= 1) None
      else docRouteBounds(slimInputs, nOut, Some(totalRows))
    val (tJ, bJ, joinKeys) = bounds match {
      case Some(bs) =>
        val route = docRouteCol(bs)
        (target.withColumn("_mrt", route).repartition(bs.length + 1, col("_mrt")),
          b.withColumn("_mrt", route).repartition(bs.length + 1, col("_mrt")),
          Seq("_mrt", "doc_id"))
      case None => (target, b, Seq("doc_id"))
    }
    // full_outer (Eager): matched → batch wins; target-only → keep;
    // batch-only → insert. left_outer (MatchOnly): unmatched batch dropped.
    val joined = tJ.join(bJ, joinKeys,
      if (rule == CreationRule.MatchOnly) "left_outer" else "full_outer")
    val result = joined
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
          // evolved extra columns ride along from the target side (null for
          // freshly inserted rows — batch carries only the canonical shape)
          target.columns.filterNot(Set("doc_id", "tokens", "n_tok", "source")).map(col): _*)

    // Partitioned tables distribute the rewrite by partition TUPLE + a
    // doc_id-hash salt sized so (tuples x salt) ~ nOut: each write task
    // holds few tuples (bounded partitionBy fan-out), a skewed tuple splits
    // across salt tasks/files, and targetFileBytes sizing is honored.
    // Unpartitioned tables are already route-clustered by the join; a local
    // doc_id sort gives narrow per-file stats with no further exchange.
    val balanced =
      if (m.spec.nonEmpty) {
        val tuples = math.max(1, touched.flatMap(_.partition).distinct.size)
        val salt = math.max(1, math.ceil(nOut.toDouble / tuples).toInt)
        graft.table.Partitioning.distributeByPartition(result, m.spec,
          math.max(nOut, spark.sessionState.conf.numShufflePartitions), salt)
      } else if (bounds.nonEmpty) result.sortWithinPartitions("doc_id")
      else if (nOut <= 1) result.coalesce(1).sortWithinPartitions("doc_id")
      // bounds sample too small for nOut buckets (tiny tables): fall back
      // to plain range partitioning directly — re-invoking the token-mass
      // partitioner would rerun the identical (deterministic) sample job
      // only to reach the same conclusion
      else result.repartitionByRange(nOut, col("doc_id"))
        .sortWithinPartitions("doc_id")

    // stepId must be deterministic across reruns (crash-resume finds its
    // ledger) yet distinct for CONCURRENT merges from the same snapshot with
    // the same touched set — the canonicalized batch plan hash separates
    // racing writers without breaking resume (semanticHash normalizes
    // expression ids, so the same merge re-run after a crash rehashes equal).
    val planHash = java.lang.Integer.toHexString(batch.queryExecution.analyzed.semanticHash())
    val stepId = s"merge-snap${m.currentSnapshotId.getOrElse(0L)}-${touchedPaths.hashCode()}-$planHash"
    val ledger = new Ledger(table, stepId)
    // Per-flush observed counters (the reference's QueryExecutorWithStatistics,
    // nodestream/databases/query_executor_with_statistics.py): an Observation
    // rides the write action — zero extra jobs — and lands in the snapshot
    // summary. Attached only on a live write: a ledger-resumed merge replays
    // staged files and has no action for the observation to observe.
    var observed: Map[String, String] = Map.empty
    val staged = withPartialKeyCoPartition(spark, needed = bounds.nonEmpty) {
      debugPlan("merge-balanced", balanced)
      ledger.completedUnits().getOrElse("merge", {
        val stagingDir = new Path(table.dataDir, s"$stepId/merge")
        if (table.fs.exists(stagingDir)) table.fs.delete(stagingDir, true)
        val obs = new org.apache.spark.sql.Observation(s"graft-$stepId")
        val outs = table.stageWrite(
          balanced.observe(obs, count(lit(1)).as("rows"),
            coalesce(sum(col("n_tok").cast("long")), lit(0L)).as("tokens")),
          s"$stepId/merge")
        observed = obs.get.map { case (k, v) => s"observed-$k" -> String.valueOf(v) }.toMap
        ledger.record("merge", outs)
        outs
      })
    }
    val mT2 = System.nanoTime()
    Failpoints.hit("merge.before-commit")
    val snap =
      try table.commit("merge", staged, touchedPaths,
        summary = Map("rule" -> rule.toString.toLowerCase,
          "touched-files" -> touched.size.toString) ++ observed ++ extraSummary,
        replacedRange = TokenTable.docRange(touched),
        readDeletePaths = Some(plannedDeletes))
      catch {
        case e: graft.table.CommitConflictException =>
          // a conflicted plan can NEVER commit (its victim set is stale):
          // clear its ledger so the abandoned attempt is not a resume trap
          // and does not leak metadata on high-contention tables; its staged
          // files are plain orphans for removeOrphans
          ledger.clear(); debounced.unpersist()
          throw e
      }
    ledger.clear()
    debounced.unpersist()
    runPostHooks()
    if (mDbg) System.err.println(
      f"MERGESTEP probe ${(mT1 - mT0) / 1e6}%.0fms stage ${(mT2 - mT1) / 1e6}%.0fms commit ${(System.nanoTime() - mT2) / 1e6}%.0fms")
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

  /** Deterministic last-write-wins debounce per doc_id via max_by on
    * (_seq, content) — shared by the CoW and MoR merge paths. Missing `_seq`
    * defaults to 0, missing `_op` to 'upsert'. */
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
   * File shape: a batch whose planned size is at most one target file (a
   * micro-batch) is debounced into ONE partition, so it commits one key
   * file and at most one data file, both with stats observed on the write
   * — no range or footer-stats job. A batch of unknown or larger planned
   * size keeps the debounce's shuffle partitioning. Returns None, and
   * commits nothing, for an empty batch (zero observed keys).
   */
  def mergeMor(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Option[Snapshot] = {
    validateMergeBatch(batch)
    val plannedBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val debouncedAll = debounceBatch(batch)
    // Cached: the staged keys and the appended rows come from ONE
    // evaluation of the batch. The partition count is fixed before the
    // cache, which AQE cannot coalesce afterwards.
    val debounced =
      (if (plannedBytes <= DefaultTargetFileBytes) debouncedAll.coalesce(1) else debouncedAll)
        .cache()
    try {
      val jobId = s"merge-mor-${java.util.UUID.randomUUID()}"
      // the debounce output is unique per doc_id by construction — skip
      // stageDeleteKeys' dedup exchange
      val keys = table.stageDeleteKeys(
        debounced.select(col("doc_id")), jobId, assumeDistinct = true)
      // no keys: an empty batch, and no row to append either
      if (keys.isEmpty) None
      else {
        val rows = debounced.filter(col("_op") === "upsert").drop("_op")
        val added = table.stageWrite(rows, jobId)
        Some(table.commit("merge-mor", added,
          addDeletes = keys,
          summary = Map(
            "rule" -> "eager-mor",
            "delete-keys" -> keys.map(_.records).sum.toString) ++ extraSummary))
      }
    } finally debounced.unpersist()
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
  def pruneProbe(batchKeys: DataFrame, endpoints: Array[String]): DataFrame = {
    val bounds: Array[AnyRef] = endpoints.map(s =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s): AnyRef)
    val bucketCol = ExpressionUtils.column(
      RangeBucket(ExpressionUtils.expression(col("doc_id")), bounds))
    batchKeys.select(bucketCol.as("_b")).distinct()
  }

  /** One-job fusion of the pruning probe and the batch-size estimate: per
    * endpoint-interval id → (row count, token mass). The distinct ids drive
    * file pruning exactly like [[pruneProbe]], while the per-group totals
    * replace what used to be a SECOND aggregation job over the batch
    * (guide §1.2: fewer passes). */
  private def pruneProbeAgg(batch: DataFrame, endpoints: Array[String]): DataFrame = {
    val bounds: Array[AnyRef] = endpoints.map(s =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s): AnyRef)
    val bucketCol = ExpressionUtils.column(
      RangeBucket(ExpressionUtils.expression(col("doc_id")), bounds))
    batch.groupBy(bucketCol.as("_b"))
      .agg(count(lit(1)).as("_n"),
        coalesce(sum(col("n_tok").cast("long")), lit(0L)).as("_toks"))
  }

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


  /**
   * Salted/weighted range partitioning: choose doc_id bounds so each output
   * partition carries ~equal *token mass* (not row count) — a long-doc skew
   * (1% of docs carry 4k-16k tokens) would otherwise leave straggler tasks.
   * Bounds are computed from a weighted sample; the bucket id is a codegen'd
   * [[RangeBucket]] routed through Murmur3 preimages
   * ([[Clustering.murmurPreimages]]), so the ONLY pass over `df` is the
   * final hash exchange — `repartitionByRange` would re-execute the child
   * (token arrays included) once more for its runtime bound sampling.
   * With a `totalRows` hint the sample is a pure fraction (one fully
   * parallel job, no serial CollectLimit). `sampleFrom` substitutes a
   * cheaper equivalently-distributed (doc_id, n_tok) frame for the bound
   * sample — e.g. the slim inputs of a join instead of the join itself.
   */
  def repartitionByTokenMass(
      df: DataFrame, nOut: Int, totalRows: Option[Long] = None,
      sampleFrom: Option[DataFrame] = None): DataFrame = {
    if (nOut <= 1) return df.coalesce(1).sortWithinPartitions("doc_id")
    docRouteBounds(sampleFrom.getOrElse(df), nOut, totalRows) match {
      case None =>
        df.repartitionByRange(nOut, col("doc_id")).sortWithinPartitions("doc_id")
      case Some(bounds) =>
        df.withColumn("_mrt", docRouteCol(bounds))
          .repartition(bounds.length + 1, col("_mrt"))
          .sortWithinPartitions("doc_id")
          .drop("_mrt")
    }
  }

  /** Token-mass-weighted doc_id cut points from a slim one-job sample
    * (None = sample too small, caller falls back). */
  private[graft] def docRouteBounds(
      sampleDf: DataFrame, nOut: Int, totalRows: Option[Long]): Option[Array[AnyRef]] = {
    val projected = sampleDf.select(col("doc_id"), col("n_tok"))
    val raw = totalRows match {
      case Some(n) if n > 0 =>
        val fraction = math.min(1.0, 200000.0 * 1.2 / n)
        projected.sample(withReplacement = false, fraction, seed = 7).collect()
      case _ =>
        projected.sample(withReplacement = false, 0.5, seed = 7)
          .limit(200000).collect()
    }
    val sample = raw
      .map(r => (r.getString(0), r.getInt(1).toLong))
      .sortBy(_._1)
    if (sample.length < nOut * 2) return None
    // NOTE: duplicate cut points are collapsed, so under extreme mass skew
    // (one doc_id heavier than a whole target file) the route can yield
    // fewer than nOut partitions and files above target size. doc_ids are
    // unique per the merge invariant and per-doc mass is bounded by the
    // longest document, so this needs target files smaller than one
    // document — out of range for any real sizing.
    val totalMass = sample.map(_._2).sum.toDouble
    val perPart = totalMass / nOut
    val bounds = scala.collection.mutable.ArrayBuffer[AnyRef]()
    var acc = 0.0
    var nextCut = perPart
    sample.foreach { case (docId, w) =>
      acc += w
      if (acc >= nextCut && bounds.size < nOut - 1 &&
          !bounds.lastOption.contains(
            org.apache.spark.unsafe.types.UTF8String.fromString(docId): AnyRef)) {
        bounds += org.apache.spark.unsafe.types.UTF8String.fromString(docId)
        nextCut += perPart
      }
    }
    Some(bounds.toArray)
  }

  // re-entrancy state for withPartialKeyCoPartition: concurrent merges on
  // one session must not interleave save/restore and strand the relaxed
  // value on the session (outermost enter saves, last exit restores)
  private val partialKeyLock = new Object
  private var partialKeyDepth = 0
  private var partialKeySaved: Option[String] = None

  /** Run `f` with partial-key co-partitioning allowed: the route-join's
    * HashPartitioning on the leading `_mrt` key must be accepted as
    * co-partitioning for join keys (_mrt, doc_id) — Spark's default
    * (`spark.sql.requireAllClusterKeysForCoPartition=true`) otherwise
    * replaces the route exchange with a full-key hash shuffle, scattering
    * the output's doc ranges. Safe here because the route is token-mass
    * balanced by construction (the skew the default guards against).
    * Depth-counted so interleaved concurrent merges restore the original
    * value exactly once, when the last one leaves. */
  private def withPartialKeyCoPartition[T](
      spark: SparkSession, needed: Boolean)(f: => T): T = {
    if (!needed) return f
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    partialKeyLock.synchronized {
      if (partialKeyDepth == 0) {
        partialKeySaved = spark.conf.getOption(key)
        spark.conf.set(key, "false")
      }
      partialKeyDepth += 1
    }
    try f
    finally partialKeyLock.synchronized {
      partialKeyDepth -= 1
      if (partialKeyDepth == 0) partialKeySaved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Routing column placing doc_id range `i` exactly in partition `i` of a
    * `repartition(bounds.length + 1, routeCol)` hash exchange. */
  private[graft] def docRouteCol(bounds: Array[AnyRef]): Column = {
    val bucket = ExpressionUtils.column(
      RangeBucket(ExpressionUtils.expression(col("doc_id")), bounds))
    element_at(typedLit(Clustering.murmurPreimages(bounds.length + 1).toSeq), bucket + 1)
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
   * range-pruned and rewrites everything. Never inserts.
   * When several patterns match one row, the lexicographically-largest
   * pattern wins (deterministic).
   */
  def mergeFuzzy(
      spark: SparkSession,
      table: TokenTable,
      batch: DataFrame, // doc_pattern, tokens, n_tok, source
      targetFileBytes: Long = DefaultTargetFileBytes): Snapshot = {
    val m = table.metadata // one planning snapshot (see compact)
    val live = table.liveFiles(m)
    val plannedDeletes = table.deletePathsOf(m)
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
    if (touched.isEmpty)
      return table.commit("merge", Seq.empty, Set.empty,
        summary = Map("rule" -> "fuzzy", "touched-files" -> "0"))
    val target = table.readFiles(spark, touched, table.deleteEntriesOf(m))
    val b = broadcast(batch.select(
      col("doc_pattern"),
      col("tokens").as("_b_tokens"), col("n_tok").as("_b_n_tok"),
      col("source").as("_b_source")))
    val joined = target.join(b, regexp_like(col("doc_id"), col("doc_pattern")), "left_outer")
    // Evolved extra columns ride along inside the max_by struct (same
    // preservation contract as mergeInto) — a fuzzy merge over a
    // schema-evolved table must not null out columns added since.
    val extras = target.columns.filterNot(Set("doc_id", "tokens", "n_tok", "source")).toSeq
    val merged = joined
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
    val nOut = math.max(1, math.ceil(
      touched.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
    val staged = table.stageWrite(
      // bounds sampled from the slim TARGET scan (same doc_id set as the
      // fuzzy result) so the broadcast theta-join is not executed a second
      // time just for range sampling
      repartitionByTokenMass(merged, nOut, Some(touched.map(_.records).sum),
        sampleFrom = Some(target.select(col("doc_id"), col("n_tok")))),
      s"merge-fuzzy-${java.util.UUID.randomUUID()}")
    table.commit("merge", staged, touched.map(_.path).toSet,
      summary = Map("rule" -> "fuzzy",
        "touched-files" -> touched.size.toString,
        "pruned-files" -> (live.size - touched.size).toString),
      replacedRange = TokenTable.docRange(touched),
      readDeletePaths = Some(plannedDeletes))
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
    val m = table.metadata // one planning snapshot (see compact)
    val live = table.liveFiles(m)
    val plannedDeletes = table.deletePathsOf(m)
    val fullyCovered = live.filter(pred.coversFile)
    val partial = live.filter(f => pred.intersectsFile(f) && !pred.coversFile(f))
    if (fullyCovered.isEmpty && partial.isEmpty) return None

    val staged =
      if (partial.isEmpty) Seq.empty
      else {
        val kept = table.readFiles(spark, partial, table.deleteEntriesOf(m))
          .filter(!pred.toColumn)
        val nOut = math.max(1, math.ceil(
          partial.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
        // token-mass routing instead of repartitionByRange: the range
        // partitioner's runtime sampling would re-execute the filter scan
        // (tokens included) a second time
        table.stageWrite(
          repartitionByTokenMass(kept, nOut, Some(partial.map(_.records).sum)),
          s"delete-${java.util.UUID.randomUUID()}")
      }
    Some(table.commit("delete", staged,
      (fullyCovered ++ partial).map(_.path).toSet,
      summary = Map(
        "predicate" -> pred.toString,
        "metadata-only-deleted-files" -> fullyCovered.size.toString,
        "rewritten-files" -> partial.size.toString),
      replacedRange = TokenTable.docRange(fullyCovered ++ partial),
      readDeletePaths = Some(plannedDeletes)))
  }

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
    val m = table.metadata // one planning snapshot (see compact)
    val live = table.liveFiles(m)
    val fullyCovered = live.filter(pred.coversFile)
    val partial = live.filter(f => pred.intersectsFile(f) && !pred.coversFile(f))
    if (fullyCovered.isEmpty && partial.isEmpty) return None
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
    val m = table.metadata // one planning snapshot (see compact)
    val snap = m.currentSnapshot.getOrElse(return None)
    val deletes = table.deleteEntries(snap)
    if (deletes.isEmpty) return None
    val live = table.liveFiles(m)
    val affected = live.filter(f => deletes.exists(TokenTable.deleteApplies(_, f)))
    val staged =
      if (affected.isEmpty) Seq.empty
      else {
        val kept = table.readFiles(spark, affected, deletes) // anti-join applies here
        val nOut = math.max(1, math.ceil(
          affected.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
        // token-mass routing: repartitionByRange would re-run the anti-join
        // scan once more just to sample its bounds
        table.stageWrite(
          repartitionByTokenMass(kept, nOut, Some(affected.map(_.records).sum)),
          s"materialize-${java.util.UUID.randomUUID()}")
      }
    Some(table.commit("materialize-deletes", staged,
      replaced = affected.map(_.path).toSet,
      summary = Map(
        "rewritten-files" -> affected.size.toString,
        "retired-delete-files" -> deletes.size.toString),
      replacedRange = TokenTable.docRange(affected),
      dropDeletePaths = deletes.map(_.path).toSet,
      // validation is delete-MANIFEST granular: the manifests this planner
      // read (snap.deletes), NOT the key-file entries inside them
      readDeletePaths = Some(snap.deletes.map(_.path).toSet)))
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

  private def deterministicStepId(
      op: String, planSnapshotId: Option[Long], layout: Layout,
      targetBytes: Long, victims: Seq[DataFileMeta]): String = {
    val h = (layout.describe, targetBytes, victims.map(_.path).sorted).hashCode()
    s"$op-snap${planSnapshotId.getOrElse(0L)}-${Integer.toHexString(h)}"
  }
}
