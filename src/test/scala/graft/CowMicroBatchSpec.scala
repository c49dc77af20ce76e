package graft

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.{CreationRule, Maintenance}
import graft.table.{PartitionField, TokenTable}

/** A copy-on-write merge of a micro-batch (planned within one core's share
  * of a target file) debounces in one partition and, when its rewrite is
  * one file of an unpartitioned table, joins and places with no exchange: a
  * few one-task jobs. A larger batch takes the shuffle path; both paths
  * must leave the same table. */
class CowMicroBatchSpec extends SparkSpec {

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("source")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** 1,000 docs in `nFiles` files (one per bucket tuple and file on a
    * partitioned table). */
  private def fresh(tag: String, nFiles: Int, spec: Seq[PartitionField] = Seq.empty): TokenTable = {
    val t = TokenTable.create(spark, tmpDir(tag) + "/tbl", partitionSpec = spec)
    val df = SequenceGen.sequences(spark, 1000).repartition(nFiles, xxhash64(col("doc_id")))
    t.commit("append", t.stageWrite(df, "seed"))
    t
  }

  /** A batch of updates, inserts and deletes against `t`'s rows, staged as
    * parquet so its planned size is the file's: a few KB. */
  private def stagedBatch(t: TokenTable, tag: String, inserts: Boolean = true,
      updates: Boolean = true): DataFrame = {
    val picked = t.scan(spark).select(col("doc_id"), col("tokens"), col("n_tok"),
      pmod(xxhash64(col("doc_id")), lit(5)).as("_k"))
    val upd = picked.filter(col("_k") === 0).select(col("doc_id"), col("tokens"), col("n_tok"),
      lit("upd").as("source"), lit("upsert").as("_op"))
    val del = picked.filter(col("_k") === 1).select(col("doc_id"), col("tokens"), col("n_tok"),
      lit("del").as("source"), lit("delete").as("_op"))
    val ins = SequenceGen.sequences(spark, 50, seed = 77L)
      .select(concat(lit("new"), col("doc_id")).as("doc_id"), col("tokens"),
        col("n_tok"), lit("ins").as("source"), lit("upsert").as("_op"))
    val parts = (if (updates) Seq(upd, del) else Nil) ++ (if (inserts) Seq(ins) else Nil)
    val src = tmpDir(tag + "-batch")
    parts.reduce(_ unionByName _).write.mode("overwrite").parquet(src)
    spark.read.parquet(src)
  }

  private def jobsOf[A](body: => A): (A, Int) = JobCounter.jobsOf(spark.sparkContext)(body)

  test("an Eager or MatchOnly CoW micro-batch runs at most 3 jobs") {
    for (rule <- Seq(CreationRule.Eager, CreationRule.MatchOnly)) {
      val t = fresh(s"cow-jobs-$rule", nFiles = 1)
      assert(t.liveFiles().size == 1)
      val b = stagedBatch(t, s"cow-jobs-$rule")
      val before = checksum(t.scan(spark))
      val (snap, jobs) = jobsOf(Maintenance.mergeInto(spark, t, b, rule))
      assert(jobs <= 3, s"a $rule micro-batch merge ran $jobs jobs")
      assert(snap.summary.get("touched-files").contains("1"))
      // the one touched file is rewritten as one file
      assert(t.liveFiles().size == 1, s"$rule: ${t.liveFiles().map(_.path)}")
      assert(checksum(t.scan(spark)) != before)
    }
  }

  test("a Create merge appends the batch's rows") {
    val t = fresh("cow-create", nFiles = 1)
    val b = stagedBatch(t, "cow-create", updates = false)
    Maintenance.mergeInto(spark, t, b, CreationRule.Create)
    assert(t.scan(spark).count() == 1050)
    assert(checksum(t.scan(spark).filter(col("source") === "ins")) == checksum(b))
  }

  test("the planned-small and the shuffled merge of one batch leave the same table") {
    for (spec <- Seq(Seq.empty[PartitionField], Seq(PartitionField("doc_id", "bucket", Some(3))))) {
      val tag = if (spec.isEmpty) "unpart" else "bucket3"
      for (rule <- Seq(CreationRule.Eager, CreationRule.MatchOnly)) {
        val small = fresh(s"cow-diff-$tag-$rule-small", nFiles = 2, spec)
        val shuffled = fresh(s"cow-diff-$tag-$rule-shuffled", nFiles = 2, spec)
        val b = stagedBatch(small, s"cow-diff-$tag-$rule")
        // a target below both the batch's planned size and a third of the
        // table: the batch takes the debounce's shuffle, the rewrite > 1 file
        // (the default target holds it: it is planned within a core's share)
        val planned = b.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
        val target = math.min(planned - 1, shuffled.liveFiles().map(_.bytes).sum / 3)
        Maintenance.mergeInto(spark, small, b, rule)
        Maintenance.mergeInto(spark, shuffled, b, rule, targetFileBytes = target)
        if (spec.isEmpty) {
          assert(small.liveFiles().size == 1, s"$tag $rule small: ${small.liveFiles().map(_.path)}")
          assert(shuffled.liveFiles().size > 1, s"$tag $rule shuffled: one file")
        }
        assert(checksum(small.scan(spark)) == checksum(shuffled.scan(spark)), s"$tag $rule")
      }
    }
  }
}
