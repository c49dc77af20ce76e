package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, RangePlan}
import graft.gen.SequenceGen
import graft.maintenance.{Maintenance, SortBy, ZOrder}

/** The sampling-free range shuffle: a RangePlan must route rows to
  * partitions that are disjoint, key-ordered ranges with ~balanced token
  * mass — equivalent to repartitionByRange(key) but with one scan and mass
  * (not row-count) balance. The curve plan and the doc_id plan (compaction
  * and the copy-on-write merge's route) share the check. */
class CurveShuffleSpec extends SparkSpec {

  private val plans: Seq[(String, DataFrame => RangePlan)] = Seq(
    "curve" -> (df => Clustering.planCurveShuffle(
      df, Seq("doc_id", "source", "n_tok"), bits = 12, hilbert = false,
      nOut = 16, totalRows = Some(20000), weightCol = Some("n_tok"))),
    "doc_id" -> (df => Clustering.planDocRange(df, nOut = 16, totalRows = Some(20000)).get))

  for ((name, planOf) <- plans)
    test(s"$name plan routes ranges to disjoint ordered partitions with balanced token mass") {
      val df = SequenceGen.sequences(spark, 20000, seed = 7).repartition(8)
      val plan = planOf(df)

      val routed = df
        .withColumn("_ck", plan.keyCol).withColumn("_rt", plan.routeCol)
        .repartition(plan.nOut, col("_rt"))
        .sortWithinPartitions(col("_ck"))
        .withColumn("_pid", spark_partition_id())

      val stats = routed.groupBy("_pid")
        .agg(min("_ck").as("lo"), max("_ck").as("hi"),
          sum(col("n_tok").cast("long")).as("mass"), count(lit(1)).as("n"))
        .orderBy("_pid").collect()

      // every partition non-empty and plan.nOut partitions materialized
      assert(stats.length == plan.nOut, s"expected ${plan.nOut} partitions, got ${stats.length}")

      // partitions hold disjoint, ordered key ranges (pid order == key order)
      def le(a: Any, b: Any) = a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0
      stats.sliding(2).foreach { case Array(a, b) =>
        assert(le(a.get(1), b.get(1)),
          s"partition ${a.getInt(0)} hi=${a.get(2)} overlaps ${b.getInt(0)} lo=${b.get(1)}")
        assert(le(a.get(2), b.get(1)), s"ranges overlap: ${a.get(2)} > ${b.get(1)}")
      }

      // token mass balanced within 2.5x of ideal despite 1% long-doc skew
      val masses = stats.map(_.getLong(3))
      val ideal = masses.sum.toDouble / masses.length
      assert(masses.max < ideal * 2.5,
        s"mass skew: max=${masses.max} ideal=$ideal")

      // no row lost
      assert(routed.count() == 20000)
    }

  test("row-count quantiles would leave heavy straggler partitions; mass quantiles do not") {
    val df = SequenceGen.sequences(spark, 20000, seed = 7).repartition(8)
    // mass-weighted plan bounds vs unweighted: compare heaviest partition share
    def maxShare(weight: Option[String]): Double = {
      val plan = Clustering.planCurveShuffle(
        df, Seq("n_tok"), bits = 12, hilbert = false,
        nOut = 8, totalRows = Some(20000), weightCol = weight)
      val masses = df
        .withColumn("_rt", plan.routeCol)
        .groupBy("_rt").agg(sum(col("n_tok").cast("long")).as("m"))
        .collect().map(_.getLong(1))
      masses.max.toDouble / masses.sum
    }
    val weighted = maxShare(Some("n_tok"))
    val unweighted = maxShare(None)
    assert(weighted < unweighted,
      s"mass weighting should reduce the heaviest partition: $weighted vs $unweighted")
    assert(weighted < 0.3, s"heaviest partition carries $weighted of all tokens")
  }

  test("a null n_tok weighs 1: compact and cluster plan through it and keep every row") {
    // stageWrite does not enforce nullability, so a null weight can land
    // through the public stage + commit path
    val t = graft.table.TokenTable.create(spark, s"${tmpDir("null-weight")}/tbl")
    val idNum = expr("CAST(substring(doc_id, 4) AS BIGINT)")
    val rows = SequenceGen.sequences(spark, 4000, seed = 3)
      .withColumn("n_tok", when(idNum % 95 === 0, lit(null).cast("int")).otherwise(col("n_tok")))
      .repartition(8)
    t.commit("append", t.stageWrite(rows, "null-weight"))
    def fp(): (Long, Long, Long) = {
      val r = t.scan(spark).select(count(lit(1)), count(col("n_tok")),
        bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val want = fp()
    assert(want._1 - want._2 == 43, s"null weights seeded: ${want._1 - want._2}")

    // targets of several files, so both plan ranges from a sample
    val target = 256L * 1024
    Maintenance.compact(spark, t, SortBy(Seq("doc_id")), targetFileBytes = target, chunks = 1)
    assert(fp() == want, "compaction changed content")
    assert(t.liveFiles().size > 1)
    Maintenance.cluster(spark, t, ZOrder(Seq("doc_id", "n_tok")), targetFileBytes = target)
    assert(fp() == want, "clustering changed content")
    assert(t.liveFiles().size > 1)
  }
}
