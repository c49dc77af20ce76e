package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.maintenance._
import graft.table.TokenTable

/**
 * Maintenance operators exposed as verifiable queries: each builds a token
 * table deterministically derived from the `documents` testdata table, runs
 * a maintenance pipeline, and scans the result back in an oracle-checkable
 * shape — proving the engine's correctness invariant (row-level token-array
 * equality, BASELINE.json input_hint) against an independent SQL engine.
 *
 * Token derivation is chosen so DuckDB can verify token sums in closed form:
 *   n_tok      = 16 + (n_chars % 497) + (doc_id % 100 == 0 ? 4096 : 0)
 *   tokens[j]  = (doc_id*31 + j) % 50021
 *   sum(tokens)= n*a + n(n-1)/2 - 50021*max(0, a+n-50021),  a = doc_id*31 % 50021
 * (n < 50021 so each element wraps at most once.)
 */
object MaintPipelines {

  /** Slim form of the seed derivation: (doc_id, _id, n_tok, source) with NO
    * token payload — shuffles placed on this frame move ~40 B/row instead of
    * the multi-KB arrays (optimization-guide §8: route with lightweight
    * proxies, materialize heavy payloads after the exchange).
    * [[withStreamTokens]] adds the tokens, byte-identical either way. */
  private def seedSlim(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select(
      format_string("doc%012d", col("doc_id")).as("doc_id"),
      col("doc_id").as("_id"),
      (lit(16) + pmod(col("n_chars"), lit(497)) +
        when(pmod(col("doc_id"), lit(100)) === 0, 4096).otherwise(0)).cast("int").as("n_tok"),
      col("source"))
  }

  /** Materialize tokens[j] = (_id*mult + j) mod m and drop the `_id`
    * carrier; extra columns (e.g. `_op`) ride through after `n_tok`. */
  private def withStreamTokens(df: DataFrame, mult: Int, m: Int): DataFrame = {
    val rest = df.columns.filterNot(Set("doc_id", "_id", "n_tok").contains)
    df.select(Seq(
      col("doc_id"),
      transform(sequence(lit(0), col("n_tok") - 1),
        j => pmod(col("_id") * mult + j, lit(m.toLong)).cast("int")).as("tokens"),
      col("n_tok")) ++ rest.map(col): _*)
  }

  /** The deterministic sequence table derived from `documents`. */
  def tokensFromDocs(spark: SparkSession, sfDir: String): DataFrame =
    withStreamTokens(seedSlim(spark, sfDir), 31, 50021)

  /** Slim form of [[updateBatch]] (no token payload — see [[seedSlim]]). */
  private def updateBatchSlim(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val updates = docs.filter(pmod(col("doc_id"), lit(7)) === 1)
      .select(
        format_string("doc%012d", col("doc_id")).as("doc_id"),
        col("doc_id").as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"), lit("upsert").as("_op"))
    val inserts = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select(
        format_string("doc%012d", col("doc_id") + 10000000).as("doc_id"),
        (col("doc_id") + 10000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"), lit("upsert").as("_op"))
    val deletes = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(
        format_string("doc%012d", col("doc_id")).as("doc_id"),
        col("doc_id").as("_id"), lit(1).as("n_tok"),
        col("source"), lit("delete").as("_op"))
    updates.unionByName(inserts).unionByName(deletes)
  }

  /** Batch of updates for the MERGE query: docs with _id % 7 == 1 get a new
    * token stream (m=40009, mult=17, n = 8 + n_chars % 61). */
  def updateBatch(spark: SparkSession, sfDir: String): DataFrame =
    withStreamTokens(updateBatchSlim(spark, sfDir), 17, 40009)

  /** Fresh throwaway table populated with tokensFromDocs, split into many
    * small scattered files so maintenance has real work to do. */
  def freshTable(spark: SparkSession, sfDir: String, nFiles: Int = 16): TokenTable = {
    val root = TempDir("graft-maint").toString
    val t = TokenTable.create(spark, s"$root/tbl")
    // scatter the slim rows, THEN materialize tokens: the file assignment
    // (hash of doc_id) and file contents are identical, but the exchange
    // carries no token arrays
    val df = withStreamTokens(
      seedSlim(spark, sfDir).repartition(nFiles, xxhash64(col("doc_id"))), 31, 50021)
    t.commit("append", t.stageWrite(df, "seed"))
    t
  }

  /** Oracle-checkable scan: numeric id, n_tok, exact token sum, source. */
  def verifiableScan(spark: SparkSession, t: TokenTable): DataFrame =
    verifiableSelect(t.scan(spark))

  def verifiableSelect(df: DataFrame): DataFrame =
    df.select(
      expr("CAST(substring(doc_id, 4) AS BIGINT)").as("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0L), (acc, x) => acc + x).as("tok_sum"),
      col("source"))

  /** Snapshot isolation under the oracle gate: a reader pinned to the
    * pre-merge snapshot must see the original table byte-for-byte even
    * though a MERGE has committed since (time travel). */
  def timeTravelRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val snap0 = t.metadata.currentSnapshotId.get
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir))
    verifiableSelect(t.scan(spark, snapshotId = Some(snap0)))
  }

  // ----- the queries ------------------------------------------------------

  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.compact(spark, t, targetFileBytes = 16L * 1024 * 1024,
      smallFileThreshold = Some(16L * 1024 * 1024))
    verifiableScan(spark, t)
  }

  def zorderRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.compact(spark, t, targetFileBytes = 16L * 1024 * 1024,
      smallFileThreshold = Some(16L * 1024 * 1024))
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 1L * 1024 * 1024)
    verifiableScan(spark, t)
  }

  def hilbertRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.cluster(spark, t, Hilbert(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 1L * 1024 * 1024)
    verifiableScan(spark, t)
  }

  def mergeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir))
    verifiableScan(spark, t)
  }

  /** MATCH_ONLY: updates land, inserts are dropped, deletes still apply
    * (creation-rule demotion, reference nodestream/model/creation_rules.py:9-13). */
  def mergeMatchOnlyRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir), CreationRule.MatchOnly)
    verifiableScan(spark, t)
  }

  /** CREATE: blind append — no join, duplicates allowed
    * (reference creation_rules.py RelationshipCreationRule.CREATE). */
  def mergeCreateRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.mergeInto(spark, t,
      updateBatch(spark, sfDir).filter(col("_op") === "upsert"), CreationRule.Create)
    verifiableScan(spark, t)
  }

  /** Ingest hooks around the MERGE (reference nodestream/model/ingestion_hooks
    * .py:6-25): the post-commit hook audits the merged table into a view this
    * query returns — proving hook ordering (after flush) and visibility. */
  def mergeHooksRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir),
      preHooks = Seq(
        "CREATE OR REPLACE TEMPORARY VIEW merge_audit_before AS " +
          "SELECT COUNT(*) AS n_rows FROM graft_merge_target"),
      postHooks = Seq(
        "CREATE OR REPLACE TEMPORARY VIEW merge_audit AS " +
          "SELECT (SELECT CAST(n_rows AS BIGINT) FROM merge_audit_before) AS rows_before, " +
          "CAST(COUNT(*) AS BIGINT) AS rows_after, " +
          "CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS toks_after FROM graft_merge_result"))
    spark.table("merge_audit")
  }

  /** The Catalyst-integrated relation (graft.plans.GraftTableSource): query
    * filters drive manifest pruning through the injected optimizer rule,
    * results checked against the closed-form oracle. */
  def tableSourcePushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 1L * 1024 * 1024)
    graft.plans.GraftTableSource.install(spark)
    val df = graft.plans.GraftTableSource.table(spark, t.root.toString)
      .filter(col("n_tok") < 200 && col("source").isin("src0", "src1"))
    verifiableSelect(df)
  }

  /** FUZZY creation rule (reference nodestream/model/creation_rules.py):
    * pattern-matched update — rows whose doc_id matches a batch regex get
    * that batch row's payload; overlaps resolve deterministically. */
  def mergeFuzzyRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = freshTable(spark, sfDir)
    val batch = Seq(
      ("[0]$", (1 to 9).toList, 9, "fz0"),   // ids ending in 0
      ("[05]$", (1 to 7).toList, 7, "fz5"))  // ids ending in 0 or 5; "[0]$" outranks on 0
      .toDF("doc_pattern", "tokens", "n_tok", "source")
    Maintenance.mergeFuzzy(spark, t, batch)
    verifiableScan(spark, t)
  }

  /** Database copy (reference nodestream/databases/copy.py:78-155): full
    * table-to-table copy = snapshot scan of the source merged into a fresh
    * destination; per-type concurrency becomes Spark partitioning. */
  def copyRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = freshTable(spark, sfDir)
    val root = TempDir("graft-copy").toString
    val dst = TokenTable.create(spark, s"$root/tbl")
    Maintenance.mergeInto(spark, dst, src.scan(spark), CreationRule.Create)
    verifiableScan(spark, dst)
  }

  def deleteRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    // TTL-style: expire all long documents (metadata-only where provable)
    Maintenance.deleteWhere(spark, t, Maintenance.NTokGreaterThan(512))
    verifiableScan(spark, t)
  }

  def expireAndScan(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    Maintenance.compact(spark, t, targetFileBytes = 16L * 1024 * 1024,
      smallFileThreshold = Some(16L * 1024 * 1024))
    Maintenance.rewriteManifests(t, entriesPerManifest = 2)
    t.expireSnapshots(retainLast = 1)
    t.removeOrphans(graceMs = 0) // gate owns the table; no concurrent writers
    verifiableScan(spark, t)
  }

  def pipelineYamlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val yaml =
      """- implementation: compact
        |  arguments: { target_file_bytes: 16777216, small_file_threshold: 16777216 }
        |- implementation: zorder
        |  arguments: { columns: [doc_id, source, n_tok], target_file_bytes: 1048576 }
        |- implementation: expire_snapshots
        |  arguments: { retain_last: 1 }
        |- implementation: remove_orphans
        |  arguments: { grace_ms: 0 }
        |""".stripMargin
    graft.plans.PipelineRunner.run(spark, t, graft.plans.PipelineDsl.parse(yaml))
    verifiableScan(spark, t)
  }

  /** Metadata-only schema evolution: add + rename, then writes under the new
    * schema coexisting with pre-evolution files (field-id projection). */
  def schemaEvolutionRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.table.{AddColumn, RenameColumn}
    val t = freshTable(spark, sfDir)
    t.evolveSchema(Seq(AddColumn("quality", "DOUBLE")))
    t.evolveSchema(Seq(RenameColumn("quality", "q")))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val appended = docs.filter(pmod(col("doc_id"), lit(11)) === 4)
      .select(
        format_string("doc%012d", col("doc_id") + 20000000).as("doc_id"),
        (col("doc_id") + 20000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(col("_id") * 17 + j, lit(40009)).cast("int")).as("tokens"),
        col("n_tok"), col("source"),
        (col("n_tok") * 0.5).as("q"))
    t.commit("append", t.stageWrite(appended, "evolved-append"))
    t.scan(spark).select(
      expr("CAST(substring(doc_id, 4) AS BIGINT)").as("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0L), (acc, x) => acc + x).as("tok_sum"),
      col("source"), col("q"))
  }

  /**
   * Merge-on-read delete end-to-end with sequence-number semantics:
   * MoR-delete the 1%-of-rows-scattered-in-every-file stratum (n_tok > 512,
   * which in the seed is exactly the +4096 long docs, doc_id % 100 = 0 —
   * the short strata cap at 16 + 496 = 512) — the commit must stage ONLY key files,
   * never rewrite data (asserted); re-insert the same doc ids with fresh
   * payloads — a higher-sequence append the pending delete must NOT touch;
   * then force-materialize, which rewrites only affected files and retires
   * every key file (asserted). The scan must show each deleted doc exactly
   * once, wearing its re-inserted payload.
   */
  def deleteMorRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.maintenance.Maintenance
    val t = freshTable(spark, sfDir)
    val before = t.liveFiles().map(_.path).toSet
    val snap = Maintenance.deleteWhereMor(spark, t, Maintenance.NTokGreaterThan(512))
    require(snap.nonEmpty, "MoR delete found nothing to do")
    require(t.liveFiles().map(_.path).toSet == before,
      "MoR delete rewrote data files — it must cost O(deleted keys)")
    require(t.metadata.currentSnapshot.exists(_.deletes.nonEmpty),
      "MoR delete committed no delete manifest")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reins = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(
        format_string("doc%012d", col("doc_id")).as("doc_id"),
        col("doc_id").as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(col("_id") * 17 + j, lit(40009)).cast("int")).as("tokens"),
        col("n_tok"), col("source"))
    t.commit("append", t.stageWrite(reins, "mor-reinsert"))
    Maintenance.materializeDeletes(spark, t)
    require(t.metadata.currentSnapshot.forall(_.deletes.isEmpty),
      "materializeDeletes left key files pending")
    verifiableScan(spark, t)
  }

  /**
   * Write-audit-publish: the ingest lands on an `audit` branch — main
   * readers see NOTHING until the audit passes (asserted both ways) — then
   * `fastForward` publishes the branch head atomically. The ancestry check
   * in fastForward is the WAP contract: main cannot silently lose commits
   * the branch never saw.
   */
  def wapRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val baseCount = t.scan(spark).count()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val appended = docs.filter(pmod(col("doc_id"), lit(19)) === 7)
      .select(
        format_string("doc%012d", col("doc_id") + 40000000).as("doc_id"),
        (col("doc_id") + 40000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(col("_id") * 17 + j, lit(40009)).cast("int")).as("tokens"),
        col("n_tok"), col("source"))
    t.commit("append", t.stageWrite(appended, "wap-append"), branch = Some("audit"))
    require(t.scan(spark).count() == baseCount,
      "unpublished audit branch leaked into the main line")
    // the audit step: validate the staged state through the branch ref
    require(t.scanRef(spark, "audit").count() > baseCount,
      "audit branch is missing the staged batch")
    t.fastForward("audit")
    verifiableScan(spark, t)
  }

  /** Reified migration DAG end-to-end (reference
    * nodestream/schema/migrations/migrations.py:10-270): migration YAML
    * artifacts on disk → [[graft.table.MigrationGraph]] → squash-aware
    * ordered plan → [[graft.table.Migrator]] applies each as a
    * metadata-only schema commit → a batch lands under the evolved schema.
    * The plan itself is asserted (m1, then the squash standing in for its
    * three members) so a planner regression fails the gate loudly, not just
    * the row hash. */
  def migrationsRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.table.{AddColumn, DropColumn, Migration, MigrationGraph, Migrator, RenameColumn}
    val t = freshTable(spark, sfDir)
    val m1 = Migration("m1_add_quality", Seq(AddColumn("quality", "DOUBLE")), Nil)
    val m2 = Migration("m2_rename_q", Seq(RenameColumn("quality", "q")), Seq("m1_add_quality"))
    val m3 = Migration("m3_add_lang", Seq(AddColumn("lang", "STRING")), Seq("m1_add_quality"))
    val m4 = Migration("m4_drop_lang", Seq(DropColumn("lang")), Seq("m2_rename_q", "m3_add_lang"))
    val sq = Migration.squash("s_2_4", Seq(m2, m3, m4))
    val dir = new org.apache.hadoop.fs.Path(
      TempDir("graft-migrations").toString, "migrations")
    Seq(m1, m2, m3, m4, sq).foreach(_.writeToDirectory(t.fs, dir))
    val applied = Migrator.migrate(t, MigrationGraph.fromDirectory(t.fs, dir))
    require(applied.map(_.name) == Seq("m1_add_quality", "s_2_4"),
      s"unexpected migration plan: ${applied.map(_.name)}")
    require(t.schema.fieldNames.toSeq == Seq("doc_id", "tokens", "n_tok", "source", "q"),
      s"unexpected evolved schema: ${t.schema.fieldNames.toSeq}")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val appended = docs.filter(pmod(col("doc_id"), lit(13)) === 6)
      .select(
        format_string("doc%012d", col("doc_id") + 30000000).as("doc_id"),
        (col("doc_id") + 30000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(col("_id") * 17 + j, lit(40009)).cast("int")).as("tokens"),
        col("n_tok"), col("source"),
        (col("n_tok") * 0.5).as("q"))
    t.commit("append", t.stageWrite(appended, "migrated-append"))
    t.scan(spark).select(
      expr("CAST(substring(doc_id, 4) AS BIGINT)").as("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0L), (acc, x) => acc + x).as("tok_sum"),
      col("source"), col("q"))
  }

  /** Update batch over docs with doc_id % 7 == `mod7`, token stream
    * (mult, m), n = 8 + n_chars % 61 — parameterized so concurrent-writer
    * tests can race two distinguishable batches. */
  def updateBatchMod(
      spark: SparkSession, sfDir: String, mod7: Int, mult: Int, m: Int): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.filter(pmod(col("doc_id"), lit(7)) === mod7)
      .select(
        format_string("doc%012d", col("doc_id")).as("doc_id"),
        col("doc_id").as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .select(col("doc_id"),
        transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(col("_id") * mult + j, lit(m.toLong)).cast("int")).as("tokens"),
        col("n_tok"), col("source"))
  }

  /**
   * Two writers racing one table: disjoint update batches (doc_id % 7 == 1
   * and == 4) merge concurrently from two threads. The seed files are
   * doc-scattered, so BOTH merges touch every file — the loser's commit
   * validation must fail and [[Maintenance.mergeIntoRetrying]] must replan
   * against the winner's snapshot and succeed. Both commits are required
   * (asserted), and the final scan must equal both batches applied in either
   * order — the optimistic-concurrency contract, end-to-end under the
   * oracle gate rather than only as a conflict-abort spec.
   */
  def concurrentMergeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable(spark, sfDir)
    val snaps0 = t.metadata.snapshots.size
    val a = updateBatchMod(spark, sfDir, mod7 = 1, mult = 17, m = 40009)
    val b = updateBatchMod(spark, sfDir, mod7 = 4, mult = 19, m = 30011)
    val fa = Future(Maintenance.mergeIntoRetrying(spark, t, a, maxAttempts = 10))
    val fb = Future(Maintenance.mergeIntoRetrying(spark, t, b, maxAttempts = 10))
    val sa = Await.result(fa, 10.minutes)
    val sb = Await.result(fb, 10.minutes)
    t.refresh()
    require(t.metadata.snapshots.size == snaps0 + 2,
      s"expected both merges to commit: ${t.metadata.snapshots.map(_.operation)}")
    require(Set(sa.snapshotId, sb.snapshotId).size == 2, "merges shared a snapshot id")
    t.removeOrphans(graceMs = 0) // abandoned attempts' staged files; gate owns the table
    verifiableScan(spark, t)
  }

  /**
   * Hidden partitioning end-to-end: a table declared
   * identity(source) + bucket(doc_id, 4) is seeded and MERGEd (every write
   * path must stay partition-aligned and record per-file tuples), then
   * partition pruning is asserted — a source filter plans only that source's
   * files (exact partition equality, not a stats range) and a doc_id point
   * lookup plans only its bucket's files — before the full scan is
   * oracle-checked. The pruning assertions are structural (file counts and
   * recorded tuples), because an oracle can check WHAT was read, not how
   * little.
   */
  def partitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.table.{PartitionField, TokenTable}
    val root = TempDir("graft-part").toString
    val spec = Seq(
      PartitionField("source", "identity"),
      PartitionField("doc_id", "bucket", Some(4)))
    val t = TokenTable.create(spark, s"$root/tbl", partitionSpec = spec)
    // partition-aware write distribution: cluster rows by partition tuple so
    // each write task holds few tuples (bounded partitionBy fan-out); the
    // tuple exchange rides the SLIM rows, tokens materialize after it
    // tuple-hash routing puts each tuple in exactly one task whatever nOut,
    // so the fan-out can ride the session's parallelism (files/tuple stays 1)
    val df = withStreamTokens(graft.table.Partitioning.distributeByPartition(
      seedSlim(spark, sfDir), spec,
      nOut = math.max(8, spark.sessionState.conf.numShufflePartitions)), 31, 50021)
    t.commit("append", t.stageWrite(df, "seed"))
    require(t.liveFiles().forall(_.partition.exists(p =>
      p.contains("source") && p.contains("doc_id_bucket4"))),
      "staged file missing its partition tuple")
    // the rewrite path must keep alignment: MERGE rewrites touched files
    // through the same partition-aligned stageWrite
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir))
    val live = t.liveFiles()
    require(live.forall(_.partition.nonEmpty), "MERGE output lost partition tuples")
    // source pruning: exact partition equality, strictly fewer files
    val srcs = live.flatMap(_.partitionValue("source")).distinct
    require(srcs.size > 1, s"need multiple sources to prove pruning, got $srcs")
    val oneSrc = t.planFiles(sourceIn = Some(Set(srcs.head)))
    require(oneSrc.nonEmpty && oneSrc.size < live.size &&
      oneSrc.forall(_.partitionValue("source").contains(srcs.head)),
      s"source pruning failed: ${oneSrc.size}/${live.size} files")
    // bucket pruning: a point lookup plans at most the key's bucket. The
    // global min doc_id comes from file stats (exact, folded at write time), so
    // no scan is needed to pick a live key.
    val key = live.map(_.minDocId).min
    val keyFiles = t.planFilesForKey(key)
    require(keyFiles.size < live.size, s"bucket pruning planned ${keyFiles.size}/${live.size}")
    require(t.lookup(spark, key).count() == 1, "point lookup lost the row")
    // truncate pruning, proven on a SMALL offshoot table so the main
    // source+bucket gate keeps its cost: truncate(n_tok, 256) on a 600-doc
    // slice records interval tuples, and a token-length scan plans only
    // files whose recorded interval overlaps the range — stats-free exact
    // range pruning (tokensFromDocs caps base n_tok at 512 with a 4096
    // spike, so [0, 255] excludes every other truncate value)
    val tspec = Seq(PartitionField("n_tok", "truncate", Some(256)))
    val t2 = TokenTable.create(spark, s"$root/trunc", partitionSpec = tspec)
    val slice = seedSlim(spark, sfDir).filter(col("_id") < 600)
    t2.commit("append", t2.stageWrite(withStreamTokens(
      graft.table.Partitioning.distributeByPartition(slice, tspec, nOut = 4),
      31, 50021), "seed"))
    val live2 = t2.liveFiles()
    require(live2.forall(_.partition.exists(_.contains("n_tok_trunc256"))),
      "truncate tuple missing")
    require(live2.flatMap(_.partitionValue("n_tok_trunc256")).distinct.size > 1,
      "need multiple truncate values to prove pruning")
    val shortFiles = t2.planFiles(nTokRange = Some((0, 255)))
    require(shortFiles.nonEmpty && shortFiles.size < live2.size,
      s"truncate pruning planned ${shortFiles.size}/${live2.size} files")
    require(shortFiles.forall(_.partitionValue("n_tok_trunc256").forall(_ == "0")),
      "truncate pruning kept a file whose interval cannot overlap [0,255]")
    verifiableScan(spark, t)
  }

  /** Incremental maintenance ticks: compact only what arrived since the
    * consumer's cursor (the reference's stream/Flush loop as a planner mode). */
  def incrementalRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    graft.streaming.Incremental.compactTick(spark, t,
      targetFileBytes = 16L * 1024 * 1024, smallFileThreshold = 512L * 1024 * 1024)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val appended = withStreamTokens(docs.filter(pmod(col("doc_id"), lit(11)) === 4)
      .select(
        format_string("doc%012d", col("doc_id") + 20000000).as("doc_id"),
        (col("doc_id") + 20000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .repartition(4), 17, 40009) // scatter slim, tokens after the exchange
    t.commit("append", t.stageWrite(appended, "inc-append"))
    graft.streaming.Incremental.compactTick(spark, t,
      targetFileBytes = 16L * 1024 * 1024, smallFileThreshold = 512L * 1024 * 1024)
    verifiableScan(spark, t)
  }

  /** Changelog (CDC) between snapshots, general content-diff path: the
    * range holds a pure rewrite (compact — must contribute NOTHING to the
    * changelog) and a CoW MERGE (upserts surface as delete+insert pairs,
    * inserts as inserts, deletes as deletes). */
  def changelogRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val from = t.metadata.currentSnapshotId.get
    Maintenance.compact(spark, t, targetFileBytes = 16L * 1024 * 1024,
      smallFileThreshold = Some(16L * 1024 * 1024))
    Maintenance.mergeInto(spark, t, updateBatch(spark, sfDir))
    verifiableChanges(
      graft.table.Changelog.changesBetween(spark, t, Some(from)))
  }

  /** Changelog fast path: an append-only range is answered from the
    * manifest set-difference alone — only the added files are read, and the
    * plan contains no join (asserted structurally: at 100 TB this is the
    * difference between O(new data) and O(table)). */
  def changelogAppendRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val from = t.metadata.currentSnapshotId.get
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val appended = withStreamTokens(docs.filter(pmod(col("doc_id"), lit(11)) === 4)
      .select(
        format_string("doc%012d", col("doc_id") + 20000000).as("doc_id"),
        (col("doc_id") + 20000000).as("_id"),
        (lit(8) + pmod(col("n_chars"), lit(61))).cast("int").as("n_tok"),
        col("source"))
      .repartition(4), 17, 40009) // scatter slim, tokens after the exchange
    t.commit("append", t.stageWrite(appended, "cdc-append"))
    val ch = graft.table.Changelog.changesBetween(spark, t, Some(from))
    require(ch.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "append-only changelog must not plan a join")
    verifiableChanges(ch)
  }

  /** Oracle-checkable projection of a changelog frame. */
  private def verifiableChanges(ch: DataFrame): DataFrame =
    ch.select(
      expr("CAST(substring(doc_id, 4) AS BIGINT)").as("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0L), (acc, x) => acc + x).as("tok_sum"),
      col("source"),
      col(graft.table.Changelog.ChangeTypeCol).as("change"))

  /** Structured-Streaming ingest into the table: file-source micro-batches,
    * each an atomic append snapshot (micro-batch boundary == the reference's
    * Flush, SURVEY.md §2.6). */
  def streamAppendRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = TempDir("graft-stream-src").toString
    updateBatch(spark, sfDir).filter(col("_op") === "upsert").drop("_op")
      .write.mode("overwrite").parquet(dir)
    val root = TempDir("graft-stream-tbl").toString
    val t = TokenTable.create(spark, s"$root/tbl")
    val stream = spark.readStream
      .schema(TokenTable.sequenceSchema)
      .option("maxFilesPerTrigger", 2) // several micro-batches
      .parquet(dir)
    val q = graft.streaming.Incremental.streamAppend(
      stream, s"$root/tbl", s"$root/ckpt")
    q.processAllAvailable(); q.stop()
    t.refresh()
    verifiableScanMerged(spark, t)
  }

  /** Structured-Streaming MERGE into a seeded table: the same update batch
    * as mergeRoundtrip (upserts + inserts + deletes via `_op`) replayed as
    * file-source micro-batches, each an idempotent per-batch MERGE commit
    * ([[graft.streaming.Incremental.streamMerge]]). Docs are disjoint
    * across ops, so any micro-batch split converges to the one-shot MERGE
    * state — the oracle is mergeOracle verbatim. */
  def streamMergeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val dir = TempDir("graft-streammerge").toString
    withStreamTokens(updateBatchSlim(spark, sfDir).repartition(6), 17, 40009)
      .write.mode("overwrite").parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(TokenTable.sequenceSchema.add("_op", org.apache.spark.sql.types.StringType))
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/src")
    val q = graft.streaming.Incremental.streamMerge(
      stream, t.root.toString, s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    t.refresh()
    verifiableScan(spark, t)
  }

  /**
   * Merge-on-read STREAMING upsert: the same update batch replayed as
   * micro-batches through [[graft.streaming.Incremental.streamMergeMor]] —
   * each trigger commits O(batch) delete keys + an append, and the seed
   * files are asserted NEVER rewritten across all batches (the property
   * that makes per-trigger ingest viable at 10^12 sequences; the CoW
   * variant maint_stream_merge rewrites touched files every batch). A final
   * materializeDeletes retires every accumulated key (a production table
   * would fold this into its compaction schedule); the scan must equal the
   * one-shot merge oracle exactly.
   */
  def streamMergeMorRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir)
    val seedPaths = t.liveFiles().map(_.path).toSet
    val dir = TempDir("graft-morstream").toString
    withStreamTokens(updateBatchSlim(spark, sfDir).repartition(6), 17, 40009)
      .write.mode("overwrite").parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(TokenTable.sequenceSchema.add("_op", org.apache.spark.sql.types.StringType))
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/src")
    val q = graft.streaming.Incremental.streamMergeMor(
      stream, t.root.toString, s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    t.refresh()
    require(seedPaths.subsetOf(t.liveFiles().map(_.path).toSet),
      "MoR streaming merge rewrote seed data files — it must cost O(batch)")
    require(t.metadata.currentSnapshot.exists(_.deletes.nonEmpty),
      "no pending delete keys after MoR stream")
    // retire every accumulated key in one rewrite of the affected files
    Maintenance.materializeDeletes(spark, t)
    require(t.metadata.currentSnapshot.forall(_.deletes.isEmpty),
      "materializeDeletes left keys pending")
    verifiableScan(spark, t)
  }

  /** Scan for tables whose tokens use the update stream (mult=17, m=40009). */
  private def verifiableScanMerged(spark: SparkSession, t: TokenTable): DataFrame =
    t.scan(spark).select(
      expr("CAST(substring(doc_id, 4) AS BIGINT)").as("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0L), (acc, x) => acc + x).as("tok_sum"),
      col("source"))

  // ----- shared oracle fragments (DuckDB SQL) -----------------------------

  /** Closed-form token sum for stream (mult, mod) at length n over doc d. */
  def tokSumSql(idExpr: String, nExpr: String, mult: Int, m: Int): String =
    s"(($nExpr) * (($idExpr) * $mult % $m) + (($nExpr) * (($nExpr) - 1)) // 2" +
      s" - $m * GREATEST(0, ($idExpr) * $mult % $m + ($nExpr) - $m))"

  val nTokSql = "CAST(16 + n_chars % 497 + CASE WHEN doc_id % 100 = 0 THEN 4096 ELSE 0 END AS INT)"
  val nTok2Sql = "CAST(8 + n_chars % 61 AS INT)"

  /** Oracle for the base table scan (compact/zorder/hilbert/expire). */
  val baseOracle: String =
    s"""SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents)""".stripMargin

  val mergeOracle: String =
    s"""WITH base AS (SELECT doc_id, $nTokSql AS n_tok, source FROM documents),
       |upd AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 1),
       |ins AS (SELECT doc_id + 10000000 AS doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 2)
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM base WHERE doc_id % 7 NOT IN (1, 3)
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM upd
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM ins""".stripMargin

  val mergeMatchOnlyOracle: String =
    s"""WITH base AS (SELECT doc_id, $nTokSql AS n_tok, source FROM documents),
       |upd AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 1)
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM base WHERE doc_id % 7 NOT IN (1, 3)
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM upd""".stripMargin

  val mergeCreateOracle: String =
    s"""WITH upd AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 1),
       |ins AS (SELECT doc_id + 10000000 AS doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 2)
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents)
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM upd
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM ins""".stripMargin

  /** Oracle for the concurrent-merge race: both disjoint update batches
    * applied, whatever the commit order. */
  val concurrentMergeOracle: String =
    s"""WITH base AS (SELECT doc_id, $nTokSql AS n_tok, source FROM documents),
       |u1 AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 1),
       |u4 AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 4)
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM base WHERE doc_id % 7 NOT IN (1, 4)
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source FROM u1
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 19, 30011)} AS BIGINT) AS tok_sum, source FROM u4""".stripMargin

  val tableSourceOracle: String =
    s"""SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents)
       |WHERE n_tok < 200 AND source IN ('src0', 'src1')""".stripMargin

  val mergeFuzzyOracle: String =
    s"""SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents) WHERE doc_id % 10 NOT IN (0, 5)
       |UNION ALL
       |SELECT doc_id, CAST(9 AS INT) AS n_tok, CAST(45 AS BIGINT) AS tok_sum, 'fz0' AS source
       |  FROM documents WHERE doc_id % 10 = 0
       |UNION ALL
       |SELECT doc_id, CAST(7 AS INT) AS n_tok, CAST(28 AS BIGINT) AS tok_sum, 'fz5' AS source
       |  FROM documents WHERE doc_id % 10 = 5""".stripMargin

  val mergeHooksOracle: String =
    s"""SELECT (SELECT COUNT(*) FROM documents) AS rows_before,
       |  COUNT(*) AS rows_after, CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS toks_after
       |FROM ($mergeOracle)""".stripMargin

  /** Appended-batch fragment: docs with doc_id % 11 = 4 shifted by 20M,
    * token stream (17, 40009). */
  private val appendedSql =
    s"""SELECT doc_id + 20000000 AS doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id + 20000000", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 11 = 4""".stripMargin

  val incrementalOracle: String = s"$baseOracle\nUNION ALL\n$appendedSql"

  /** Net changes of compact + MERGE over the seed: upserts = delete(old) +
    * insert(new), deletes = delete(old), inserts = insert; the compact
    * rewrite contributes nothing. Exactness of the delete+insert pairs
    * needs old != new content, verified to hold for every %7==1 doc in the
    * fixed test data (no doc has both equal lengths and equal first token:
    * 16+n_chars%497+spike == 8+n_chars%61 AND id*31%50021 == id*17%40009
    * has zero solutions at sf0.01 and sf0.1). */
  val changelogOracle: String =
    s"""WITH upd_old AS (SELECT doc_id, $nTokSql AS n_tok, source FROM documents WHERE doc_id % 7 = 1),
       |del_old AS (SELECT doc_id, $nTokSql AS n_tok, source FROM documents WHERE doc_id % 7 = 3),
       |upd_new AS (SELECT doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 1),
       |ins_new AS (SELECT doc_id + 10000000 AS doc_id, $nTok2Sql AS n_tok, source FROM documents WHERE doc_id % 7 = 2)
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source, 'delete' AS change FROM upd_old
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source, 'delete' AS change FROM del_old
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source, 'insert' AS change FROM upd_new
       |UNION ALL
       |SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 17, 40009)} AS BIGINT) AS tok_sum, source, 'insert' AS change FROM ins_new""".stripMargin

  val changelogAppendOracle: String =
    s"SELECT doc_id, n_tok, tok_sum, source, 'insert' AS change FROM ($appendedSql)"

  /** Appended-batch fragment for the migration gate: docs with
    * doc_id % 13 = 6 shifted by 30M, token stream (17, 40009). */
  private val migratedSql =
    s"""SELECT doc_id + 30000000 AS doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id + 30000000", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 13 = 6""".stripMargin

  /** MoR delete + re-insert oracle: n_tok > 512 in the seed is exactly the
    * doc_id % 100 = 0 long-doc stratum (16 + n_chars%497 caps at 512); those
    * docs survive only as their re-inserted (17, 40009) payloads. */
  val deleteMorOracle: String =
    s"""SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |  FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents) WHERE doc_id % 100 <> 0
       |UNION ALL
       |SELECT doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 100 = 0""".stripMargin

  /** WAP oracle: base plus the audited-then-published append
    * (doc_id % 19 = 7 shifted by 40M, stream (17, 40009)). */
  val wapOracle: String =
    s"""$baseOracle
       |UNION ALL
       |SELECT doc_id + 40000000 AS doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id + 40000000", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 19 = 7""".stripMargin

  val migrationsOracle: String =
    s"""SELECT doc_id, n_tok, tok_sum, source, CAST(NULL AS DOUBLE) AS q FROM ($baseOracle)
       |UNION ALL
       |SELECT doc_id, n_tok, tok_sum, source, n_tok * 0.5 AS q FROM ($migratedSql)""".stripMargin

  val schemaEvolutionOracle: String =
    s"""SELECT doc_id, n_tok, tok_sum, source, CAST(NULL AS DOUBLE) AS q FROM ($baseOracle)
       |UNION ALL
       |SELECT doc_id, n_tok, tok_sum, source, n_tok * 0.5 AS q FROM ($appendedSql)""".stripMargin

  val streamAppendOracle: String =
    s"""SELECT doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 7 = 1
       |UNION ALL
       |SELECT doc_id + 10000000 AS doc_id, $nTok2Sql AS n_tok,
       |  CAST(${tokSumSql("doc_id + 10000000", nTok2Sql, 17, 40009)} AS BIGINT) AS tok_sum, source
       |FROM documents WHERE doc_id % 7 = 2""".stripMargin

  val deleteOracle: String =
    s"""SELECT doc_id, n_tok, CAST(${tokSumSql("doc_id", "n_tok", 31, 50021)} AS BIGINT) AS tok_sum, source
       |FROM (SELECT doc_id, $nTokSql AS n_tok, source FROM documents) WHERE n_tok <= 512""".stripMargin
}
