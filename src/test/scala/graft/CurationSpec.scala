package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Curation

/** Mixing & selection: sampling must be a pure function of the id
  * (partition- and retry-independent), and the distributed budget selection
  * must equal the single-partition window reference exactly. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.range(2000).select(
    col("id").as("doc_id"),
    element_at(typedLit(Seq("en", "de", "fr", "zh")), (pmod(col("id"), lit(4)) + 1).cast("int")).as("lang"),
    (pmod(col("id") * 37, lit(500)) + 1).cast("int").as("n_chars"),
    pmod(col("id") * 31, lit(977)).cast("double").as("score"))

  test("stratifiedSample: deterministic, partition-independent, rate-bounded") {
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def ids(df: org.apache.spark.sql.DataFrame) =
      Curation.stratifiedSample(df, rates, defaultRate = 0.1, stratumCol = "lang")
        .select("doc_id").as[Long].collect().toSet
    val a = ids(docs)
    val b = ids(docs.repartition(7)) // partitioning must not change selection
    assert(a == b && a.nonEmpty)
    // observed rates within a loose tolerance of the targets
    val byLang = Curation.stratifiedSample(docs, rates, 0.1, "lang")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(byLang("en") / 500.0 - 0.5) < 0.1)
    assert(math.abs(byLang("de") / 500.0 - 0.25) < 0.1)
    // boundary rates
    assert(Curation.stratifiedSample(docs, Map.empty, 1.0, "lang").count() == 2000)
    assert(Curation.stratifiedSample(docs, Map.empty, 0.0, "lang").count() == 0)
  }

  test("selectUnderBudget == single-partition window reference") {
    val budget = 50000L
    val got = Curation.selectUnderBudget(docs, budget, "score", "n_chars")
      .as[(Long, Long)].collect().toSet
    val w = Window.orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs
      .withColumn("off", coalesce(sum(col("n_chars").cast("long")).over(w), lit(0L)))
      .filter(col("off") + col("n_chars") <= budget && col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got == ref && got.nonEmpty && got.size < 2000)
  }

  private def assertQualityIdentity(): Unit = {
    import graft.text.TextOps
    // every branch of the definition: empty, whitespace-only (gated word
    // count), leading tab (trim strips ASCII spaces only, \s+ split yields a
    // leading empty token), punctuation runs, overlapping stop-word pads
    // (" a a a "), long text (lenScore cap), mixed unicode incl. a
    // supplementary-plane code point (code-point length), null
    val nasty = Seq(
      "", " ", "   ", "\t", "\ta b", "a", "the", " the ", "the the the",
      "a a a a a a", "to of and the a", "x.y,z;q:w!e?r", "...!!!???",
      "word " * 200, "héllo wörld. the end", "emoji 😀 the test",
      "a  b   c", " leading the space ", "trail the space ", null)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      nasty.map(s => org.apache.spark.sql.Row(s)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.StringType, true))))
    val out = df.select(
      TextOps.qualityScore(col("t")).as("native"),
      ColumnarReference.qualityScore(col("t")).as("columnar")).collect()
    out.zip(nasty).foreach { case (r, s) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch on ${Option(s)}")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"quality mismatch on '$s': native=${r.getDouble(0)} columnar=${r.getDouble(1)}")
    }
  }

  test("native quality score == columnar reference, bit for bit, on nasty strings") {
    assertQualityIdentity()
  }

  test("quality score generates real code: CODEGEN_ONLY runs and matches") {
    withCodegenOnly { assertQualityIdentity() }
  }

  test("prefix-sum outputs survive a downstream coalesce(1)") {
    // Regression: TaskContext.getPartitionId() is the TASK id — under a
    // caller's coalesce(1) every parent partition ran in task 0 and
    // restarted its cumsum at base 0 (selected everything). The split
    // index from mapPartitionsWithIndex is coalesce-proof.
    val budget = 50000L
    val base = Curation.selectUnderBudget(docs, budget, "score", "n_chars")
      .as[(Long, Long)].collect().toSet
    val viaCoalesce = Curation.selectUnderBudget(docs, budget, "score", "n_chars")
      .coalesce(1).as[(Long, Long)].collect().toSet
    assert(viaCoalesce == base)
    val offs = graft.text.SequencePack
      .globalTokenOffsets(docs, nCol = "n_chars")
      .coalesce(1).select("tok_offset").as[Long].collect()
    // global offsets must be strictly increasing across the whole corpus,
    // not restart at 0 per fused partition
    assert(offs.sorted.sameElements(offs) && offs.distinct.length == offs.length)
  }
}
