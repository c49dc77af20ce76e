package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.maintenance.{CreationRule, Maintenance}
import graft.table.{DataFileMeta, TokenTable}

/**
 * Incremental + streaming maintenance — the Spark recast of nodestream's
 * stream semantics (SURVEY.md §2.6): the reference's only control signal is
 * `Flush`, emitted when a poll returns empty and driving a writer flush
 * (reference nodestream/pipeline/extractors/streams/extractor.py:47-99,
 * nodestream/pipeline/writers.py:18-26). Here a *micro-batch boundary is the
 * Flush*: each invocation processes exactly the table state added since the
 * last checkpoint, commits, and records the new position.
 */
object Incremental {

  /** Durable per-consumer position: last snapshot this consumer processed.
    * Stored in the table's own metadata dir (the engine-owned checkpoint
    * store — nodestream ObjectStore analogue,
    * reference nodestream/pipeline/object_storage.py:143-344). */
  final class SnapshotCursor(table: TokenTable, consumer: String) {
    // through the table's checkpoint ObjectStore: HMAC-signed when the table
    // declares `checkpoint.hmac-key-base64` — a forged cursor would silently
    // skip (or replay) every file between the true and forged positions
    private val store = graft.maintenance.ObjectStore.forTable(table)
    private val key = s"cursor-$consumer.text"
    // wire format: first line = snapshot id; each further line = an
    // already-processed path the snapshot cannot yet exclude (back-compat:
    // pre-exclusion cursors are a single line)
    private def read(): Option[Seq[String]] =
      store.get(key).map(b => new String(b, "UTF-8").linesIterator.toSeq)
    def get(): Option[Long] = read().flatMap(_.headOption).map(_.trim.toLong)
    /** Paths this consumer has already processed that `get()`'s snapshot
      * does not contain (a tick's own outputs — see [[compactTick]]). */
    def exclusions(): Set[String] =
      read().map(_.drop(1).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    def set(snapshotId: Long, exclude: Set[String] = Set.empty): Unit =
      store.put(key,
        (snapshotId.toString +: exclude.toSeq.sorted).mkString("\n").getBytes("UTF-8"))
  }

  /** Data files present in the current snapshot but not in `sinceSnapshot`
    * (None = everything). This is a pure manifest diff — no data IO. */
  def newFilesSince(table: TokenTable, sinceSnapshot: Option[Long]): Seq[DataFileMeta] =
    newFilesSince(table, table.metadata, sinceSnapshot)

  /** Snapshot-consistent form: both sides of the diff come from the caller's
    * immutable metadata view `m`, never the volatile current. */
  def newFilesSince(
      table: TokenTable, m: graft.table.TableMetadata,
      sinceSnapshot: Option[Long]): Seq[DataFileMeta] = {
    val current = table.liveFiles(m)
    sinceSnapshot match {
      case None => current
      case Some(id) =>
        m.snapshot(id) match {
          case None => current // expired base snapshot: full reprocess
          case Some(old) =>
            val oldPaths = table.manifestEntries(old).map(_.path).toSet
            current.filterNot(f => oldPaths.contains(f.path))
        }
    }
  }

  /**
   * One incremental-maintenance tick: compact only files appended since this
   * consumer's last processed snapshot (small ones below `smallFileThreshold`),
   * then advance the cursor. Returns the number of files rewritten. Repeated
   * ticks with no new appends are no-ops — the idle poll of the reference's
   * stream loop.
   */
  def compactTick(
      spark: SparkSession,
      table: TokenTable,
      consumer: String = "incremental-compact",
      targetFileBytes: Long = Maintenance.DefaultTargetFileBytes,
      smallFileThreshold: Long = 32L * 1024 * 1024): Int = {
    val cursor = new SnapshotCursor(table, consumer)
    // ONE immutable metadata view for the whole planning pass (victims,
    // delete entries applied at read, delete paths validated at commit) —
    // the same invariant every other maintenance planner holds; commit's
    // readDeletePaths validation then catches any delete landing after it.
    val m = table.refresh()
    val excl = cursor.exclusions()
    val fresh = newFilesSince(table, m, cursor.get())
      .filter(f => f.bytes < smallFileThreshold && !excl.contains(f.path))
    val plannedDeletes = table.deletePathsOf(m)
    graft.maintenance.Failpoints.hitCallback("inc.after-plan")
    // Cursor discipline: advance to the PLANNING snapshot — the view
    // `fresh` was computed from — never further. The commit's own snapshot
    // is already too far: a concurrent append landing mid-tick gets
    // rebased INTO the compact snapshot via manifest carry-forward, so
    // diffing against it would hide those never-seen files from every
    // later tick. Against the planning snapshot the tick's own outputs
    // also re-surface, so they ride along as explicit path EXCLUSIONS
    // (bounded by one tick's output count) until the next advance folds
    // them into the cursor snapshot — ticks never re-compact their own
    // outputs (bounded write amplification; a scheduled full compact owns
    // global re-binpacking). A LONE pending small file keeps the cursor
    // in place so it stays in view until a companion arrives.
    if (fresh.size >= 2) {
      // stage + commit only the freshly appended files
      val input = table.readFiles(spark, fresh, table.deleteEntriesOf(m))
      val nOut = math.max(1, math.ceil(
        fresh.map(_.bytes).sum.toDouble / targetFileBytes).toInt)
      val staged = table.stageWrite(
        // totalRows from the manifests: a pure-fraction sample (fully
        // parallel), never the serial CollectLimit fallback
        Maintenance.repartitionByTokenMass(input, nOut,
          totalRows = Some(fresh.map(_.records).sum)),
        s"inc-compact-${java.util.UUID.randomUUID()}")
      table.commit("compact", staged, fresh.map(_.path).toSet,
        summary = Map("mode" -> "incremental", "consumer" -> consumer),
        readDeletePaths = Some(plannedDeletes))
      m.currentSnapshotId.foreach(id => cursor.set(id, staged.map(_.path).toSet))
      fresh.size
    } else {
      // zero pending: advance (prior exclusions are inside m's manifests
      // by now — they were committed before this refresh — so drop them);
      // exactly one pending: hold position, keep it fresh
      if (fresh.isEmpty) m.currentSnapshotId.foreach(id => cursor.set(id))
      0
    }
  }

  /** The shared exactly-once micro-batch sink: `op(table, batch, batchId)`
    * runs once per UNSEEN batch id — a batch id already recorded in the
    * snapshot log (by the committing op, via the stream-batch-id summary
    * key) is skipped on replay. One place to fix the replay check for every
    * streaming sink. The sink runs no job of its own: each op commits
    * nothing for an empty batch, and learns that from its own work. */
  private def idempotentBatchSink(
      stream: DataFrame, tableRoot: String, checkpointDir: String, trigger: Trigger)(
      op: (TokenTable, DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t = TokenTable.load(batch.sparkSession, tableRoot)
        val already = t.metadata.snapshots.exists(
          _.summary.get("stream-batch-id").contains(batchId.toString))
        if (!already) op(t, batch, batchId)
      }
      .start()

  /**
   * Structured-Streaming ingest: every micro-batch of `(doc_id, tokens,
   * n_tok, source)` rows is committed as one atomic append snapshot —
   * `foreachBatch` commit == the reference's Flush-driven writer flush
   * (nodestream/databases/writer.py:85-99).
   */
  def streamAppend(
      stream: DataFrame,
      tableRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    idempotentBatchSink(stream, tableRoot, checkpointDir, trigger) { (t, batch, batchId) =>
      val staged = t.stageWrite(
        batch.select("doc_id", "tokens", "n_tok", "source"),
        s"stream-batch-$batchId-${java.util.UUID.randomUUID()}")
      // stageWrite stages nothing for an empty batch (its observed row count)
      if (staged.nonEmpty) t.commit("append", staged,
        summary = Map("stream-batch-id" -> batchId.toString))
      ()
    }

  /** Streaming upsert: each micro-batch MERGEs into the table (idempotent
    * per batch id, last-write-wins inside the batch via the debouncer). */
  def streamMerge(
      stream: DataFrame,
      tableRoot: String,
      checkpointDir: String,
      rule: CreationRule.Value = CreationRule.Eager,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    idempotentBatchSink(stream, tableRoot, checkpointDir, trigger) { (t, batch, batchId) =>
      // an emptiness job is noise next to the copy-on-write rewrite it skips
      if (!batch.isEmpty) Maintenance.mergeInto(batch.sparkSession, t, batch, rule,
        extraSummary = Map("stream-batch-id" -> batchId.toString))
      ()
    }

  /** Streaming upsert, merge-on-read: each micro-batch commits as equality-
    * delete keys + an append ([[Maintenance.mergeMor]]) — O(batch) per
    * trigger however large the table, never a file rewrite. The streaming
    * shape for 10^12-sequence tables: a copy-on-write merge per micro-batch
    * would rewrite the same hot files every few seconds, while here
    * compaction retires the accumulated delete keys on ITS schedule
    * (idempotent per batch id like every stream sink here). A micro-batch
    * planned within one target file commits one key file and one data file;
    * an empty one commits nothing. */
  def streamMergeMor(
      stream: DataFrame,
      tableRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    idempotentBatchSink(stream, tableRoot, checkpointDir, trigger) { (t, batch, batchId) =>
      Maintenance.mergeMor(batch.sparkSession, t, batch,
        extraSummary = Map("stream-batch-id" -> batchId.toString))
      ()
    }
}
