package graft

import org.apache.spark.sql.functions._

import graft.text.AnnOps

/** The native DotProduct expression must be value- and null-identical to
  * the columnar reference fold `aggregate(zip_with(a,b,x*y), 0.0, +)` the
  * DuckDB oracle mirrors — same summation order, so even float-rounding
  * artifacts match bit-for-bit. */
class VectorExprSpec extends SparkSpec {

  private def refDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("native dot equals the columnar fold bit-for-bit on random float vectors") {
    val df = spark.range(2000).select(
      col("id"),
      transform(sequence(lit(0), lit(63)),
        j => (pmod(col("id") * 37 + j * 11, lit(1999)) / 321.7 - 3.1).cast("float")).as("a"),
      transform(sequence(lit(0), lit(63)),
        j => (pmod(col("id") * 53 + j * 7, lit(2003)) / 217.3 - 4.6).cast("float")).as("b"))
    val bad = df.select(AnnOps.dot(col("a"), col("b")).as("n"), refDot(col("a"), col("b")).as("r"))
      .filter(col("n") =!= col("r") || col("n").isNull =!= col("r").isNull)
    assert(bad.count() == 0)
  }

  test("native dot matches the fold's null semantics: length mismatch and null element") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0F, 2.0F), array(3.0F, 4.0F)),
        |  (array(1.0F, 2.0F), array(3.0F)),
        |  (array(1.0F, CAST(NULL AS FLOAT)), array(3.0F, 4.0F)),
        |  (CAST(NULL AS ARRAY<FLOAT>), array(3.0F, 4.0F))
        |AS t(a, b)""".stripMargin)
    val rows = df.select(AnnOps.dot(col("a"), col("b")).as("n"), refDot(col("a"), col("b")).as("r"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
    }
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) == 11.0)
    assert(rows.drop(1).forall(_.isNullAt(0)))
  }

  test("int and double element types dot like their cast-to-double folds") {
    val df = spark.sql(
      "SELECT array(1, 2, 3) AS a, array(4.0D, 5.0D, 6.0D) AS b")
    val r = df.select(AnnOps.dot(col("a"), col("b"))).head.getDouble(0)
    assert(r == 32.0)
  }

  test("native lsh signature equals the columnar reference on random vectors") {
    val df = spark.range(3000).select(
      transform(sequence(lit(0), lit(63)),
        j => (pmod(col("id") * 41 + j * 13, lit(4001)) / 500.0 - 4.0).cast("float")).as("v"))
    for (planes <- Seq(1, 4, 6, 8)) {
      val bad = df.select(AnnOps.lshSignature(col("v"), planes).as("n"),
          ColumnarReference.lshSignature(col("v"), planes).as("r"))
        .filter(col("n") =!= col("r"))
      assert(bad.count() == 0, s"planes=$planes")
    }
  }

  test("lsh signature weight cache survives mixed vector lengths in one column") {
    // The per-length plane-weight cache recomputes when consecutive rows
    // carry different dims — alternating lengths force the recompute path
    // on every row and must still match the columnar reference exactly.
    val df = spark.range(400).select(
      transform(sequence(lit(0), pmod(col("id"), lit(7)).cast("int") + 1),
        j => (pmod(col("id") * 29 + j * 17, lit(3001)) / 400.0 - 3.7).cast("float")).as("v"))
    val bad = df.select(AnnOps.lshSignature(col("v"), 8).as("n"),
        ColumnarReference.lshSignature(col("v"), 8).as("r"))
      .filter(col("n") =!= col("r"))
    assert(bad.count() == 0)
  }

  test("native lsh signature keeps the columnar null algebra: null vec/element -> 0L") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0F, -2.0F, 0.5F)),
        |  (array(1.0F, CAST(NULL AS FLOAT), 0.5F)),
        |  (CAST(NULL AS ARRAY<FLOAT>))
        |AS t(v)""".stripMargin)
    val rows = df.select(AnnOps.lshSignature(col("v"), 6).as("n"),
      ColumnarReference.lshSignature(col("v"), 6).as("r")).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0), "native signature must never be null")
      assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    assert(rows(1).getLong(0) == 0L && rows(2).getLong(0) == 0L)
  }

  test("dot and lsh signature generate real code: CODEGEN_ONLY runs and matches") {
    // CODEGEN_ONLY makes projection codegen mandatory — a doGenCode that
    // fails to compile (or an expression that silently fell back) aborts
    // the query instead of degrading to interpreted eval. Identity vs the
    // columnar references re-asserted in this mode, plus the nullable
    // contract: a length-mismatched dot must come back null even though
    // the generated projection claims non-null inputs.
    withCodegenOnly {
      val df = spark.range(500).select(
        col("id"),
        transform(sequence(lit(0), lit(31)),
          j => (pmod(col("id") * 37 + j * 11, lit(1999)) / 321.7 - 3.1).cast("float")).as("a"),
        transform(sequence(lit(0), lit(31)),
          j => (pmod(col("id") * 53 + j * 7, lit(2003)) / 217.3 - 4.6).cast("float")).as("b"))
      val bad = df.select(
          AnnOps.dot(col("a"), col("b")).as("nd"), refDot(col("a"), col("b")).as("rd"),
          AnnOps.lshSignature(col("a"), 8).as("ns"),
          ColumnarReference.lshSignature(col("a"), 8).as("rs"))
        .filter(col("nd") =!= col("rd") || col("ns") =!= col("rs"))
      assert(bad.count() == 0)
      val mismatch = spark.sql("SELECT array(1.0F, 2.0F) AS a, array(3.0F) AS b")
        .select(AnnOps.dot(col("a"), col("b")).as("d")).collect()
      assert(mismatch(0).isNullAt(0), "length mismatch must be null under codegen")
    }
  }

  test("non-array input fails analysis loudly") {
    val df = spark.sql("SELECT 1 AS a, array(1.0F) AS b")
    val e = intercept[Exception](df.select(AnnOps.dot(col("a"), col("b"))).collect())
    assert(e.getMessage.toLowerCase.contains("numeric arrays") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch") ||
      e.getMessage.toLowerCase.contains("data type mismatch"), e.getMessage)
  }
}
