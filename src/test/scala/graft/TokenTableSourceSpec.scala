package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.{Maintenance, ZOrder}
import graft.plans.GraftTableSource

/** The Catalyst-integrated token-table relation: query predicates must turn
  * into manifest-level file pruning while results stay exact. */
class TokenTableSourceSpec extends SparkSpec {

  test("optimizer rule prunes files from query filters and preserves results") {
    val root = tmpDir("tts")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 20000, nFiles = 16)
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "source", "n_tok")),
      targetFileBytes = 256L * 1024)
    val allFiles = t.liveFiles().size
    GraftTableSource.install(spark)

    val df = GraftTableSource.table(spark, s"$root/tbl")
      .filter(col("source") === "web" && col("n_tok") < 600)
      .select(col("doc_id"), col("n_tok"))

    // pruning: the executed scan reads fewer files than the table holds
    val scanned = df.inputFiles.length
    assert(scanned < allFiles, s"no pruning: $scanned of $allFiles files")

    // exactness: identical to the unpruned scan with the same predicate
    val expected = t.scan(spark)
      .filter(col("source") === "web" && col("n_tok") < 600)
      .select(col("doc_id"), col("n_tok"))
    assert(df.exceptAll(expected).isEmpty && expected.exceptAll(df).isEmpty)

    // parquet-level pushdown still happens below the manifest pruning
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") || physical.contains("pushedFilters"),
      "parquet pushdown lost below the rewrite")
  }

  test("unfiltered relation reads everything; non-prunable predicates prune nothing but stay correct") {
    val root = tmpDir("tts2")
    val t = SequenceGen.createTable(spark, s"$root/tbl", nDocs = 5000, nFiles = 4)
    GraftTableSource.install(spark)
    val df = GraftTableSource.table(spark, s"$root/tbl")
    assert(df.count() == 5000)
    val odd = df.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
    assert(odd.count() > 0 && odd.count() < 5000)
  }

  test("a table with no snapshot reads as empty") {
    val root = tmpDir("tts-empty") + "/tbl"
    graft.table.TokenTable.create(spark, root)
    GraftTableSource.install(spark)
    assert(GraftTableSource.table(spark, root).filter(col("n_tok") > 3).count() == 0)
  }
}
