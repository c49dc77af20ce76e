package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.{CreationRule, Failpoints, Maintenance}

/** The route-partitioned CoW MERGE (nOut > 1): both join sides are
  * pre-partitioned on the route column of `Clustering.planDocRange` — the
  * token-mass-balanced doc_id plan compaction places rows by too — the join
  * adds no exchange, and the output files carry disjoint contiguous doc
  * ranges with NO post-join repartition pass over the merged payload. */
class RouteMergeSpec extends SparkSpec {

  test("small-target merge routes output to disjoint doc ranges and exact content") {
    val t = SequenceGen.createTable(spark, s"${tmpDir("route-merge")}/tbl", 8000, 8)
    val base = t.scan(spark)
    val idNum = expr("CAST(substring(doc_id, 4) AS BIGINT)")
    val upd = base.filter(idNum % 5 === 1).select(col("doc_id"),
      transform(sequence(lit(0), lit(7)), j => (j * 3).cast("int")).as("tokens"),
      lit(8).as("n_tok"), lit("upd").as("source"), lit("upsert").as("_op"))
    val ins = base.filter(idNum % 5 === 2).select(
      concat(lit("zz-"), col("doc_id")).as("doc_id"),
      col("tokens"), col("n_tok"), col("source"), lit("upsert").as("_op"))
    val del = base.filter(idNum % 5 === 3).select(
      col("doc_id"), col("tokens"), col("n_tok"), col("source"),
      lit("delete").as("_op"))
    val batch = upd.unionByName(ins).unionByName(del)
    val expected = base.filter(idNum % 5 =!= 1 && idNum % 5 =!= 3)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      .unionByName(upd.drop("_op")).unionByName(ins.drop("_op"))
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)),
        bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val want = fp(expected)

    // tiny target forces nOut > 1 → the route-partitioned join path. The
    // co-partition relaxation belongs to the merge alone: while it lists its
    // staged files, the caller's session still shows the default.
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    var seen: Option[String] = None
    Failpoints.armCallback("table.list.after-file") { () => seen = Some(spark.conf.get(key)) }
    try Maintenance.mergeInto(spark, t, batch, CreationRule.Eager,
      targetFileBytes = 256L * 1024)
    finally Failpoints.reset()
    assert(seen.contains("true"), s"caller's session showed $key = $seen mid-merge")

    assert(fp(t.scan(spark)) == want, "route-merge content diverged")
    val files = t.liveFiles()
    assert(files.size > 2, s"expected several output files, got ${files.size}")
    // disjoint contiguous doc ranges — the property the route exchange exists
    // for (a fallback full-key hash shuffle would scatter every range over
    // every file)
    val ranges = files.map(f => (f.minDocId, f.maxDocId)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file doc ranges overlap: $hi > $lo2")
      case _ => ()
    }
  }

  test("MatchOnly small-target merge keeps route layout and drops inserts") {
    val t = SequenceGen.createTable(spark, s"${tmpDir("route-mo")}/tbl", 6000, 6)
    val base = t.scan(spark)
    val idNum = expr("CAST(substring(doc_id, 4) AS BIGINT)")
    val upd = base.filter(idNum % 4 === 1).select(col("doc_id"),
      transform(sequence(lit(0), lit(3)), j => (j * 7).cast("int")).as("tokens"),
      lit(4).as("n_tok"), lit("mo").as("source"), lit("upsert").as("_op"))
    val ins = base.limit(50).select(
      concat(lit("zz-"), col("doc_id")).as("doc_id"),
      col("tokens"), col("n_tok"), col("source"), lit("upsert").as("_op"))
    val expected = base.filter(idNum % 4 =!= 1)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      .unionByName(upd.drop("_op"))
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)),
        bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val want = fp(expected)
    Maintenance.mergeInto(spark, t, upd.unionByName(ins), CreationRule.MatchOnly,
      targetFileBytes = 256L * 1024)
    assert(fp(t.scan(spark)) == want, "MatchOnly route-merge content diverged")
  }
}
