package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.JmesPath
import graft.ops.Interpret
import graft.plans.PipelineDsl
import graft.table.{AddColumn, DropColumn, RenameColumn, SchemaEvolution}

/** Error semantics of the interpretation steps (UnhandledBranchError /
  * InvalidKeyLengthError analogues), the JMESPath-subset engine, schema auto
  * change detection, and the !config / !include argument resolvers. */
class InterpretSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- switchOn

  test("switchOn routes branches and applies the default") {
    val out = Seq("a", "b", "zzz").toDF("k")
      .select(Interpret.switchOn(col("k"),
        Seq("a" -> lit(1), "b" -> lit(2)), default = Some(lit(0))).as("v"))
      .as[Int].collect().toSeq
    assert(out == Seq(1, 2, 0))
  }

  test("switchOn with fail_on_unhandled raises UnhandledBranchError") {
    val df = Seq("a", "mystery").toDF("k")
      .select(Interpret.switchOn(col("k"),
        Seq("a" -> lit(1)), default = None, failOnUnhandled = true).as("v"))
    val e = intercept[Exception] { df.collect() }
    assert(e.getMessage.contains("UnhandledBranchError") ||
      e.getCause != null && e.getCause.getMessage.contains("UnhandledBranchError"))
  }

  test("switchOn without default and without strict mode yields null") {
    val out = Seq("zzz").toDF("k")
      .select(Interpret.switchOn(col("k"), Seq("a" -> lit(1))).as("v"))
      .collect()
    assert(out.head.isNullAt(0))
  }

  // ---------------------------------------------------------- findManyZip

  test("findManyZip zips equal-length arrays") {
    val out = Seq(1).toDF("x")
      .select(explode(Interpret.findManyZip(
        array(lit("k1"), lit("k2")), array(lit("v1"), lit("v2")))).as("kv"))
      .select(col("kv.0"), col("kv.1")).as[(String, String)].collect().toSeq
    assert(out == Seq(("k1", "v1"), ("k2", "v2")))
  }

  test("findManyZip raises InvalidKeyLengthError on ragged arrays") {
    val df = Seq(1).toDF("x")
      .select(Interpret.findManyZip(
        array(lit("k1"), lit("k2")), array(lit("v1"))).as("kv"))
    val e = intercept[Exception] { df.collect() }
    assert(e.getMessage.contains("InvalidKeyLengthError") ||
      e.getCause != null && e.getCause.getMessage.contains("InvalidKeyLengthError"))
  }

  // -------------------------------------------------------------- jmespath

  private def jp(json: String, path: String): Option[String] = {
    val r = Seq(json).toDF("j").select(JmesPath.jsonPath(col("j"), path).as("v")).collect()
    if (r.head.isNullAt(0)) None else Some(r.head.getString(0))
  }

  test("jmespath: nested fields, indexes, containers, missing paths") {
    val doc = """{"a":{"b":[{"c":1},{"c":2},{"d":3}],"s":"hi"}}"""
    assert(jp(doc, "a.s").contains("hi"))
    assert(jp(doc, "a.b[0].c").contains("1"))
    assert(jp(doc, "a.b[-1].d").contains("3"))
    assert(jp(doc, "a.b[0]").contains("""{"c":1}"""))
    assert(jp(doc, "a.missing").isEmpty)
    assert(jp(doc, "a.b[9]").isEmpty)
    assert(jp("not json", "a").isEmpty)
  }

  test("jmespath: list projection drops missing, flatten, pipe") {
    val doc = """{"a":[{"b":1},{"b":2},{"c":3}],"n":[[1,2],[3],4]}"""
    assert(jp(doc, "a[*].b").contains("[1,2]"))
    assert(jp(doc, "n[]").contains("[1,2,3,4]"))
    assert(jp(doc, "a[*].b | [0]").contains("1"))
    // projection over a non-array is missing, like JMESPath
    assert(jp(doc, "a[0].b[*]").isEmpty)
  }

  test("jmespath: bad paths fail at plan time") {
    intercept[IllegalArgumentException] { JmesPath.parse("a..b") }
    intercept[IllegalArgumentException] { JmesPath.parse("a[xyz]") }
    intercept[IllegalArgumentException] { JmesPath.parse("a[1") }
  }

  // --------------------------------------------------- connected components

  test("connectedComponents: min-label propagation over chains, triangles, singles") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comps = graft.text.DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  // ------------------------------------------------- schema auto-detection

  test("schema diff detects drops, renames (by field-id), and adds") {
    val old = StructType(Seq(
      StructField("doc_id", StringType), StructField("tokens", StringType),
      StructField("quality", DoubleType), StructField("junk", IntegerType)))
    val oldIds = Map("doc_id" -> 0, "tokens" -> 1, "quality" -> 2, "junk" -> 3)
    // target: junk dropped, quality renamed to q_score, lang added
    val (target, targetIds) = SchemaEvolution.applyOps(old, oldIds, Seq(
      DropColumn("junk"), RenameColumn("quality", "q_score"), AddColumn("lang", "STRING")))
    val ops = SchemaEvolution.diff(old, oldIds, target, targetIds)
    assert(ops.toSet == Set(
      DropColumn("junk"), RenameColumn("quality", "q_score"), AddColumn("lang", "STRING")))
    // round-trip: applying the detected ops reproduces the target schema
    val (replayed, _) = SchemaEvolution.applyOps(old, oldIds, ops)
    assert(replayed == target)
  }

  test("schema diffByName falls back to drop+add without field ids") {
    val old = StructType(Seq(StructField("a", StringType), StructField("b", IntegerType)))
    val target = StructType(Seq(StructField("a", StringType), StructField("c", LongType)))
    assert(SchemaEvolution.diffByName(old, target).toSet ==
      Set(DropColumn("b"), AddColumn("c", "BIGINT")))
  }

  // ------------------------------------------------------ argument resolvers

  test("!config resolves from the provided configuration map") {
    val steps = PipelineDsl.parse(
      """- implementation: expire_snapshots
        |  arguments: { retain_last: !config retain }
        |""".stripMargin, config = Map("retain" -> Integer.valueOf(7)))
    assert(steps == Seq(graft.plans.ExpireSnapshotsStep(Some(7), None)))
    val e = intercept[Exception] {
      PipelineDsl.parse(
        "- implementation: expire_snapshots\n  arguments: { retain_last: !config nope }")
    }
    assert(e.getMessage.contains("!config"))
  }

  test("!include splices another yaml document") {
    val inc = java.nio.file.Files.createTempFile(SparkTestSession.scratch, "graft-include", ".yaml")
    java.nio.file.Files.writeString(inc, "{ target_file_bytes: 1234, chunks: 2 }")
    val steps = PipelineDsl.parse(
      s"""- implementation: compact
         |  arguments: !include $inc
         |""".stripMargin)
    assert(steps == Seq(graft.plans.CompactStep(1234L, None, 2)))
  }
}
