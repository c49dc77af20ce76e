package graft.maintenance

import org.apache.hadoop.fs.{FileStatus, Path}

import graft.table.{DataFileMeta, TableJson, TableMetadata, TokenTable}

/**
 * Per-step work-unit ledger enabling crash resume without recomputing
 * committed work — the Spark-native recast of nodestream's extractor
 * checkpoints (reference nodestream/pipeline/extractors/extractor.py:19-51:
 * checkpoint every N records, resume on start, clear on clean finish).
 *
 * A maintenance step splits its work into units (chunks of files). After a
 * unit's output is fully staged, its file metas are recorded here
 * (write-temp + atomic rename). A re-run with the same deterministic stepId
 * skips recorded units and reuses their staged outputs; the ledger is
 * cleared after the final snapshot commit.
 */
final class Ledger(table: TokenTable, stepId: String) {
  // All blobs go through the table's checkpoint ObjectStore — HMAC-signed
  // when the table declares `checkpoint.hmac-key-base64` (the reference's
  // SignedObjectStore contract): a tampered ledger unit fails verification
  // on resume instead of silently steering which work is skipped.
  private val store = ObjectStore.forTable(table)
  private val prefix = s"${Ledger.Dir}/$stepId"

  def completedUnits(): Map[String, Seq[DataFileMeta]] =
    store.list(prefix)
      .filter(_.endsWith(".json"))
      .flatMap { key =>
        // a unit deleted between list and get (concurrent clear) is simply
        // absent — never fabricated as an empty completed unit
        store.get(key).map { bytes =>
          key.split('/').last.stripSuffix(".json") ->
            TableJson.readManifest(new String(bytes, "UTF-8"))
        }
      }.toMap

  /** The staging job id of one attempt at `unitId`, `<stepId>/<unitId>-<uuid>`:
    * fresh per attempt, so no attempt writes where another writer's commit
    * may point. */
  def stagingJobId(unitId: String): String = s"$stepId/$unitId-${java.util.UUID.randomUUID()}"

  /** Record a unit's staged files, which must lie under the step's staging
    * prefix: GC keeps a resumable step's files by that prefix alone. */
  def record(unitId: String, files: Seq[DataFileMeta]): Unit = {
    val staging = Ledger.stagingPrefix(stepId)
    val outside = files.map(_.path).filterNot(_.startsWith(staging))
    require(outside.isEmpty,
      s"ledger $stepId records files outside $staging: ${outside.take(3).mkString(", ")}")
    store.put(s"$prefix/$unitId.json", TableJson.write(files).getBytes("UTF-8"))
  }

  def clear(): Unit = store.deleteAll(prefix)
}

/** The on-disk format of crash-resume state (step ids, staging names, the
  * ledger directory) and which ledgers a crashed run can still resume. */
object Ledger {
  private val Dir = "ledger"
  private val PlannedAt = "-snap(\\d+)-".r

  /** The deterministic step id `<op>-snap<N>-<hex>` of a rewrite planned at
    * `m`'s current snapshot N (0 before the first one). */
  def stepId(op: String, m: TableMetadata, planHash: Int): String =
    s"$op-snap${m.currentSnapshotId.getOrElse(0L)}-${Integer.toHexString(planHash)}"

  /** Where, under the table root, every attempt of `stepId` stages. */
  def stagingPrefix(stepId: String): String = s"data/$stepId/"

  /** A table's ledgers at one metadata value: the step ids a crashed run can
    * resume, and the stale ledger directories. */
  final case class OnDisk(resumable: Seq[String], stale: Seq[FileStatus])

  /** A ledger planned at or after `m`'s current snapshot (0 before the first
    * one) is resumable: a rerun plans the same step id. Every other ledger is
    * stale — after a newer commit a rerun replans under a fresh step id. */
  def onDisk(table: TokenTable, m: TableMetadata): OnDisk = {
    val dir = new Path(table.metadataDir, Dir)
    if (!table.fs.exists(dir)) return OnDisk(Nil, Nil)
    val cur = m.currentSnapshotId.getOrElse(0L)
    val (resumable, stale) = table.fs.listStatus(dir).toSeq.filter(_.isDirectory).partition(st =>
      PlannedAt.findFirstMatchIn(st.getPath.getName).exists(_.group(1).toLong >= cur))
    OnDisk(resumable.map(_.getPath.getName), stale)
  }

  /** Delete the `stale` ledgers last touched before `cutoff`; returns their
    * paths under the table root. The grace cutoff protects a LIVE run whose
    * plan a newer commit invalidated but which is still writing units before
    * discovering the conflict. Liveness is judged by the NEWEST CHILD file's
    * mtime (max'd with the directory's own, for an empty just-created
    * ledger): object stores have no directories and no mtime propagation,
    * so keying off the directory entry alone would sweep an actively-written
    * ledger there. */
  def sweepStale(table: TokenTable, stale: Seq[FileStatus], cutoff: Long): Seq[String] = {
    def newestTouch(st: FileStatus): Long = {
      val children = scala.util.Try(table.fs.listStatus(st.getPath).toSeq)
        .getOrElse(Seq.empty)
      (st.getModificationTime +: children.map(_.getModificationTime)).max
    }
    stale.filter(newestTouch(_) < cutoff).map { st =>
      table.fs.delete(st.getPath, true)
      s"metadata/$Dir/${st.getPath.getName}"
    }
  }
}
