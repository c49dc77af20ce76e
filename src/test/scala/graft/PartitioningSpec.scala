package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.{Maintenance, ZOrder}
import graft.table.{Partitioning, PartitionField, TokenTable}

/** Hidden partitioning: partition-aligned writes record one tuple per file,
  * every rewrite path preserves alignment, and pruning uses exact partition
  * equality (identity) / bucket equality (point lookups). */
class PartitioningSpec extends SparkSpec {

  private val spec = Seq(
    PartitionField("source", "identity"),
    PartitionField("doc_id", "bucket", Some(4)))

  private def fresh(nDocs: Long = 1000): TokenTable = {
    val t = TokenTable.create(spark, tmpDir("part") + "/tbl", partitionSpec = spec)
    val df = SequenceGen.sequences(spark, nDocs).repartition(3, xxhash64(col("doc_id")))
    t.commit("append", t.stageWrite(df, "seed"))
    t
  }

  /** `lookup(key)` returns exactly one row, and it is the scan's row of `key`. */
  private def assertLookupFinds(t: TokenTable, key: String, clue: String = ""): Unit = {
    val got = t.lookup(spark, key).collect().toSeq
    assert(got.size == 1, s"lookup($key) returned ${got.size} rows $clue")
    assert(got == t.scan(spark).filter(col("doc_id") === key).collect().toSeq, clue)
  }

  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("aligned write: one partition tuple per file, data columns intact") {
    val t = fresh()
    val files = t.liveFiles()
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = f.partition.getOrElse(fail(s"no partition tuple on ${f.path}"))
      assert(p.keySet == Set("source", "doc_id_bucket4"), s"tuple keys: ${p.keySet}")
      // identity alignment: recorded tuple matches the file's actual rows
      assert(f.sources == Seq(p("source")) || f.sources.isEmpty)
    }
    // the original source column is still IN the data files (identity is a
    // duplicate, not a move) and scan returns the canonical schema
    assert(t.scan(spark).columns.toSeq == Seq("doc_id", "tokens", "n_tok", "source"))
    // every recorded bucket matches the driver-side transform of actual rows
    val byFile = t.scan(spark).select(col("doc_id")).collect().map(_.getString(0))
    val bf = spec(1)
    files.foreach { f =>
      val fileRows = t.readFiles(spark, Seq(f), Seq.empty).select("doc_id")
        .collect().map(_.getString(0))
      fileRows.foreach { id =>
        assert(Partitioning.transformValue(bf, id, org.apache.spark.sql.types.StringType) == f.partition.get("doc_id_bucket4"),
          s"row $id in wrong bucket file ${f.path}")
      }
    }
    assert(byFile.length == 1000)
  }

  test("compaction and clustering preserve partition tuples and content") {
    val t = fresh()
    val before = checksum(t.scan(spark))
    Maintenance.compact(spark, t, targetFileBytes = 1 << 20,
      smallFileThreshold = Some(64 << 20))
    assert(t.liveFiles().forall(_.partition.nonEmpty), "compact lost tuples")
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 1 << 20)
    assert(t.liveFiles().forall(_.partition.nonEmpty), "cluster lost tuples")
    assert(checksum(t.scan(spark)) == before, "maintenance changed content")
  }

  test("identity pruning is exact; bucket pruning narrows point lookups") {
    val t = fresh()
    val live = t.liveFiles()
    val srcs = live.flatMap(_.partitionValue("source")).distinct
    assert(srcs.size > 1)
    val one = t.planFiles(sourceIn = Some(Set(srcs.head)))
    assert(one.nonEmpty && one.size < live.size)
    assert(one.forall(_.partitionValue("source").contains(srcs.head)))
    // scan through the pruned plan returns exactly that source's rows
    val viaScan = t.scan(spark, sourceIn = Some(Set(srcs.head)))
    assert(viaScan.filter(col("source") =!= srcs.head).count() == 0)
    assert(viaScan.count() ==
      t.scan(spark).filter(col("source") === srcs.head).count())
    // bucket pruning: only files of the key's bucket (and range) planned
    val key = "doc%012d".format(123L)
    val kf = t.planFilesForKey(key)
    assert(kf.size < live.size, s"planned ${kf.size}/${live.size}")
    val bf = spec(1)
    val want = Partitioning.transformValue(bf, key, org.apache.spark.sql.types.StringType)
    assert(kf.forall(_.partitionValue("doc_id_bucket4").forall(_ == want)))
    assertLookupFinds(t, key)
  }

  test("truncate transform: column/value forms agree, tuples recorded, ranges prune exactly") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val tf = PartitionField("n_tok", "truncate", Some(256))
    // value form floors to the width's multiple, incl. negatives (Iceberg)
    assert(Partitioning.transformValue(tf, "300", LongType) == "256")
    assert(Partitioning.transformValue(tf, "255", LongType) == "0")
    assert(Partitioning.transformValue(tf, "-7", LongType) == "-256")
    val sf = PartitionField("source", "truncate", Some(3))
    assert(Partitioning.transformValue(sf, "webcrawl", StringType) == "web")
    assert(Partitioning.transformValue(sf, "ab", StringType) == "ab")
    // code points, not UTF-16 units: a supplementary char (U+1D54F, two
    // UTF-16 units) counts as ONE — both forms must agree or driver-side
    // pruning against column-recorded tuples drops matching files
    import spark.implicits._
    val supp = new String(Character.toChars(0x1D54F)) + "abc"
    val suppDf = Seq(Tuple1(supp)).toDF("source").select(
      Partitioning.transformCol(sf, StringType).as("t"))
    assert(suppDf.head.getString(0) == Partitioning.transformValue(sf, supp, StringType),
      "string-truncate column/value forms disagree on supplementary characters")
    // column form agrees with the value form on real data
    val df = spark.range(-5, 50).select((col("id") * 37).cast("int").as("n_tok"))
    val both = df.select(col("n_tok"),
      Partitioning.transformCol(tf, org.apache.spark.sql.types.IntegerType).as("t"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1).toString ==
        Partitioning.transformValue(tf, r.getInt(0).toString, LongType), r.toString)
    }
    // interval test: a file recording trunc value v holds rows in [v, v+w)
    assert(Partitioning.truncateIntervalMayContain("256", 256, Some(300L), Some(400L)))
    assert(!Partitioning.truncateIntervalMayContain("256", 256, Some(512L), None))
    assert(!Partitioning.truncateIntervalMayContain("256", 256, None, Some(255L)))
    assert(Partitioning.truncateIntervalMayContain("256", 256, Some(511L), Some(511L)))
    // end-to-end: truncate-partitioned table records tuples and planFiles
    // prunes a token-length scan to exactly the overlapping truncate values
    val tspec = Seq(tf)
    val t = TokenTable.create(spark, tmpDir("part-trunc") + "/tbl", partitionSpec = tspec)
    val data = SequenceGen.sequences(spark, 400)
    t.commit("append", t.stageWrite(
      Partitioning.distributeByPartition(data, tspec, nOut = 4), "seed"))
    val live = t.liveFiles()
    assert(live.forall(_.partition.exists(_.contains("n_tok_trunc256"))), "tuple missing")
    val truncVals = live.flatMap(_.partitionValue("n_tok_trunc256")).distinct
    assert(truncVals.size > 1, s"need multiple truncate values, got $truncVals")
    val planned = t.planFiles(nTokRange = Some((0, 255)))
    assert(planned.nonEmpty && planned.size < live.size,
      s"truncate pruning planned ${planned.size}/${live.size}")
    assert(planned.forall(_.partitionValue("n_tok_trunc256").contains("0")), "wrong tuple survived")
    // correctness: the pruned scan returns exactly the rows in range
    val got = t.scan(spark, nTokRange = Some((0, 255))).filter(col("n_tok") <= 255).count()
    val want = data.filter(col("n_tok") <= 255).count()
    assert(got == want, s"pruned scan returned $got of $want rows")
  }

  test("merge keeps alignment; unpartitioned tables are unaffected") {
    val t = fresh()
    val batch = SequenceGen.sequences(spark, 50, seed = 99L)
      .withColumn("doc_id", concat(lit("zz"), col("doc_id")))
    Maintenance.mergeInto(spark, t, batch)
    assert(t.liveFiles().forall(_.partition.nonEmpty))
    assert(t.scan(spark).filter(col("doc_id").startsWith("zz")).count() == 50)
    // a spec-less table records no tuples and prunes by stats as before
    val u = SequenceGen.createTable(spark, tmpDir("nopart") + "/tbl", 200, 2)
    assert(u.liveFiles().forall(_.partition.isEmpty))
  }

  test("spec evolution: old files stay stats-pruned, new writes align, compaction migrates") {
    // start unpartitioned
    val t = SequenceGen.createTable(spark, tmpDir("part-evolve") + "/tbl", 600, 3)
    assert(t.liveFiles().forall(_.partition.isEmpty))
    val before = checksum(t.scan(spark))
    // declare the spec (metadata-only)
    t.evolvePartitionSpec(spec)
    // new append aligns to the new spec; old files keep no tuple
    val extra = SequenceGen.sequences(spark, 50, seed = 5L)
      .withColumn("doc_id", concat(lit("y"), col("doc_id")))
    t.commit("append", t.stageWrite(extra, "post-spec"))
    val live = t.liveFiles()
    assert(live.exists(_.partition.nonEmpty) && live.exists(_.partition.isEmpty))
    // mixed generations scan correctly; source pruning stays CORRECT
    // (pre-spec files fall back to stats and are never wrongly dropped)
    val srcs = t.scan(spark).select("source").distinct().collect().map(_.getString(0))
    // scan pruning is FILE-level (callers apply the row filter): the pruned
    // file set must still contain every matching row
    srcs.foreach { s =>
      assert(t.scan(spark, sourceIn = Some(Set(s))).filter(col("source") === s).count() ==
        t.scan(spark).filter(col("source") === s).count(), s"pruning dropped rows for $s")
    }
    // a full re-cluster migrates every file onto the new spec
    graft.maintenance.Maintenance.compact(spark, t, targetFileBytes = 1 << 20,
      smallFileThreshold = None)
    assert(t.liveFiles().forall(_.partition.nonEmpty), "compaction did not migrate spec")
    assert(t.scan(spark).count() == before._1 + 50)
    // printers reflect the partition layout
    val p = graft.table.Describe.partitions(t)
    assert(p.contains("spec: [source, bucket(doc_id, 4)]"), p)
    assert(p.contains("source="), p)
  }

  test("bucket-count evolution cannot hide rows: old tuples fall back to stats") {
    // regression (review): tuples carry the bucket count in their key, so a
    // file recorded under bucket4 is NOT compared against a bucket8
    // expectation — it is conservatively included
    val t = fresh(400)
    t.evolvePartitionSpec(Seq(
      PartitionField("source", "identity"),
      PartitionField("doc_id", "bucket", Some(8))))
    // every pre-evolution row is still findable through the pruned lookup
    (0 until 400 by 37).foreach { i =>
      val key = "doc%012d".format(i.toLong)
      assertLookupFinds(t, key, "after bucket evolution")
    }
    // a post-evolution append records bucket8 tuples; lookups prune with them
    val extra = SequenceGen.sequences(spark, 20, seed = 9L)
      .withColumn("doc_id", concat(lit("n"), col("doc_id")))
    t.commit("append", t.stageWrite(extra, "b8"))
    assert(t.liveFiles().exists(_.partitionValue("doc_id_bucket8").nonEmpty))
    val nKey = t.liveFiles().filter(_.partitionValue("doc_id_bucket8").nonEmpty)
      .map(_.minDocId).min
    assertLookupFinds(t, nKey)
  }

  test("empty identity values map to the Hive sentinel and stay visible to pruned scans") {
    // regression (review): Spark writes empty/null partition values as
    // __HIVE_DEFAULT_PARTITION__; recording that sentinel verbatim would
    // make planFiles' exact match hide every empty-valued row
    val t = TokenTable.create(spark, tmpDir("part-empty") + "/tbl",
      partitionSpec = Seq(PartitionField("source", "identity")))
    import spark.implicits._
    val df = Seq(
      ("d1", Seq(1), 1, ""), ("d2", Seq(2), 1, "web"), ("d3", Seq(3), 1, ""))
      .toDF("doc_id", "tokens", "n_tok", "source")
    t.commit("append", t.stageWrite(df, "seed"))
    // files holding empty-source rows record NO source tuple entry
    val emptyFiles = t.planFiles(sourceIn = Some(Set("")))
    assert(t.readFiles(spark, emptyFiles, Seq.empty)
      .filter(col("source") === "").count() == 2, "empty-source rows hidden from pruned scan")
    // non-empty pruning still exact where tuples exist
    val webFiles = t.planFiles(sourceIn = Some(Set("web")))
    assert(t.readFiles(spark, webFiles, Seq.empty)
      .filter(col("source") === "web").count() == 1)
  }

  test("unescape preserves supplementary-plane characters adjacent to escapes") {
    // regression (review): per-UTF-16-unit byte conversion split surrogate
    // pairs into '?' — runs between '%' escapes must convert whole
    assert(Partitioning.unescapePathValue("a%3Db😀") == "a=b😀")
    assert(Partitioning.unescapePathValue("😀%20x") == "😀 x")
    assert(Partitioning.unescapePathValue("%zzkeep") == "%zzkeep") // bad hex stays raw
    assert(Partitioning.unescapePathValue("tail%") == "tail%")
  }

  test("merge-on-read deletes interact cleanly with partition alignment") {
    val t = fresh(500)
    val before = t.scan(spark).count()
    // MoR delete stages key files only (no partition alignment needed: keys
    // are not data files), scans apply them, materialize rewrites ALIGNED
    val snap = Maintenance.deleteWhereMor(spark, t,
      Maintenance.NTokGreaterThan(4000))
    assert(snap.nonEmpty)
    val afterDelete = t.scan(spark).count()
    assert(afterDelete < before)
    Maintenance.materializeDeletes(spark, t)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    assert(t.liveFiles().forall(_.partition.nonEmpty),
      "materializeDeletes output lost partition tuples")
    assert(t.scan(spark).count() == afterDelete)
  }

  test("per-tuple bin packing: compaction converges to ~one file per partition tuple") {
    val t = TokenTable.create(spark, tmpDir("part-binpack") + "/tbl",
      partitionSpec = Seq(PartitionField("source", "identity")))
    // several appends => many small files per tuple
    (1 to 4).foreach { i =>
      t.commit("append", t.stageWrite(
        SequenceGen.sequences(spark, 300, seed = i.toLong)
          .withColumn("doc_id", concat(lit(s"a$i-"), col("doc_id")))
          .repartition(2), s"seed-$i"))
    }
    val tuples = t.liveFiles().flatMap(_.partition).distinct.size
    assert(t.liveFiles().size > tuples * 2, "fixture not fragmented enough")
    val before = checksum(t.scan(spark))
    Maintenance.compact(spark, t, targetFileBytes = 64 << 20,
      smallFileThreshold = Some(64 << 20))
    // one ~target-size bin per tuple -> one file per tuple
    assert(t.liveFiles().size == tuples,
      s"expected $tuples files post-compact, got ${t.liveFiles().size}")
    assert(checksum(t.scan(spark)) == before)
  }

  test("partitioned compact crash-resumes without recompute and keeps tuples") {
    import graft.maintenance.{Failpoints, SortBy}
    val t = fresh(800)
    val before = checksum(t.scan(spark))
    Failpoints.armAt("rewrite.after-unit", 1)
    intercept[Failpoints.InjectedFailure] {
      Maintenance.compact(spark, t, SortBy(Seq("doc_id")),
        targetFileBytes = 1 << 20, smallFileThreshold = Some(64 << 20), chunks = 2)
    }
    Failpoints.reset()
    // the crashed run staged chunk 0 and recorded it; the re-run must reuse
    // it (ledger) and the committed result must keep content + tuples
    Maintenance.compact(spark, t, SortBy(Seq("doc_id")),
      targetFileBytes = 1 << 20, smallFileThreshold = Some(64 << 20), chunks = 2)
    assert(checksum(t.scan(spark)) == before, "resume changed content")
    assert(t.liveFiles().forall(_.partition.nonEmpty), "resume lost partition tuples")
  }

  test("unknown column in an evolved spec is rejected") {
    val t = SequenceGen.createTable(spark, tmpDir("part-evolve-bad") + "/tbl", 100, 2)
    intercept[IllegalArgumentException] {
      t.evolvePartitionSpec(Seq(graft.table.PartitionField("nope", "identity")))
    }
  }

  test("nasty identity values survive Spark's partition-dir escaping end-to-end") {
    // values Spark must escape in directory names: space, '=', '/', ':',
    // '%' — the recorded tuple must equal the original value and pruning
    // must stay exact. (Non-ASCII values additionally require a UTF-8
    // filesystem locale — an environment property, not an escaping one.)
    val nastySources = Seq("web crawl", "a=b", "pct%20", "colon:v", "sla/sh")
    val t = TokenTable.create(spark, tmpDir("part-nasty") + "/tbl",
      partitionSpec = Seq(PartitionField("source", "identity")))
    import spark.implicits._
    val rows = (0 until 100).map(i =>
      (f"doc$i%012d", Seq(1, 2, i), 3, nastySources(i % nastySources.size)))
    val df = rows.toDF("doc_id", "tokens", "n_tok", "source").repartition(2)
    t.commit("append", t.stageWrite(df, "seed"))
    val recorded = t.liveFiles().flatMap(_.partitionValue("source")).toSet
    assert(recorded == nastySources.toSet, s"tuples mangled: $recorded")
    nastySources.foreach { s =>
      val pruned = t.planFiles(sourceIn = Some(Set(s)))
      assert(pruned.nonEmpty && pruned.forall(_.partitionValue("source").contains(s)))
      assert(t.readFiles(spark, pruned, Seq.empty)
        .filter(col("source") === s).count() == 20, s"rows lost for '$s'")
    }
  }

  test("path value escaping round-trips special characters") {
    assert(Partitioning.unescapePathValue("web") == "web")
    assert(Partitioning.unescapePathValue("a%3Db") == "a=b")
    assert(Partitioning.unescapePathValue("sla%2Fsh") == "sla/sh")
    assert(Partitioning.partitionFromPath(
      "data/j1/_p_source=web/_p_doc_id_bucket=3/part-0.parquet")
      .contains(Map("source" -> "web", "doc_id_bucket" -> "3")))
    assert(Partitioning.partitionFromPath("data/j1/part-0.parquet").isEmpty)
  }
}
