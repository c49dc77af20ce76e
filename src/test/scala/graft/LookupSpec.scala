package graft

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.{AddColumn, PartitionField, RenameColumn, TokenTable}

/** `TokenTable.lookup` returns exactly the rows a scan filtered on the key
  * returns, read on the driver without a Spark job. */
class LookupSpec extends SparkSpec {

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def scanned(t: TokenTable, key: String): DataFrame =
    t.scan(spark).filter(col("doc_id") === key)

  private def hashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"), xxhash64(col("doc_id"), col("tokens")).as("h"))

  /** One commit of a random history over a small key space. */
  private sealed trait Op
  private final case class Append(keys: Seq[Int]) extends Op
  private final case class Upsert(keys: Seq[Int]) extends Op
  private final case class Delete(keys: Seq[Int]) extends Op
  private case object Evolve extends Op

  private val keySpace = 12
  private def key(i: Int) = f"k$i%02d"
  private val keys = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose(0, keySpace - 1)))
  private val op: Gen[Op] = Gen.frequency(
    4 -> keys.map(Append(_)), 2 -> keys.map(Upsert(_)), 2 -> keys.map(Delete(_)), 3 -> Gen.const(Evolve))
  private val history = for {
    bucketed <- Gen.oneOf(false, true)
    first <- keys.map(Append(_))
    rest <- Gen.choose(3, 7).flatMap(Gen.listOfN(_, op))
  } yield (bucketed, first +: rest)

  /** A batch of `ks`, one row per key (a key twice in `ks` gets two rows).
    * An append carries each evolved column the table has; a merge batch
    * (`_op` set) holds the canonical columns only. */
  private def batch(t: TokenTable, ks: Seq[Int], commit: Int, opName: Option[String]): DataFrame = {
    import spark.implicits._
    val base = ks.zipWithIndex.map { case (k, i) =>
      (key(k), Seq(commit, i, k), 3, s"src$commit") }.toDF("doc_id", "tokens", "n_tok", "source")
    opName.fold(t.schema.drop(4).foldLeft(base) { (df, f) =>
      df.withColumn(f.name, f.dataType match {
        case StringType => lit(s"${f.name}-$commit")
        // a date before the Gregorian switch, which parquet readers rebase by file metadata
        case DateType => date_add(to_date(lit("1400-01-01")), commit)
        case dt => lit(commit).cast(dt)
      })
    })(o => base.withColumn("_op", lit(o)))
  }

  private def build(bucketed: Boolean, ops: Seq[Op]): TokenTable = {
    val spec = if (bucketed) Seq(PartitionField("doc_id", "bucket", Some(3))) else Seq.empty
    val t = TokenTable.create(spark, tmpDir("lookup") + "/tbl", partitionSpec = spec)
    var evolutions = 0
    ops.zipWithIndex.foreach {
      case (Append(ks), c) => t.commit("append", t.stageWrite(batch(t, ks, c, None), s"a$c"))
      case (Upsert(ks), c) => Maintenance.mergeMor(spark, t, batch(t, ks.distinct, c, Some("upsert")))
      case (Delete(ks), c) => Maintenance.mergeMor(spark, t, batch(t, ks.distinct, c, Some("delete")))
      case (Evolve, _) =>
        // first an added column, then that column renamed next to two added ones
        evolutions += 1
        if (evolutions == 1) t.evolveSchema(Seq(AddColumn("tag", "STRING")))
        else if (evolutions == 2)
          t.evolveSchema(Seq(RenameColumn("tag", "label"), AddColumn("score", "INT"),
            AddColumn("born", "DATE")))
    }
    t
  }

  /** What a history exercises, for the coverage check of the property. */
  private def traits(bucketed: Boolean, ops: Seq[Op]): Set[String] = {
    def later(i: Int)(p: Op => Boolean) = ops.drop(i + 1).exists(p)
    val writes = (o: Op, k: Int) => o match {
      case Append(ks) => ks.contains(k)
      case Upsert(ks) => ks.contains(k)
      case _ => false
    }
    val evolves = ops.zipWithIndex.collect { case (Evolve, i) => i }
    ops.zipWithIndex.flatMap {
      case (Delete(ks), i) if ks.exists(k => ops.take(i).exists(writes(_, k))) &&
          ks.exists(k => later(i)(writes(_, k))) => Seq("delete-between-writes")
      case (Append(ks), _) if ks.distinct.size < ks.size => Seq("duplicate-key")
      case _ => Nil
    }.toSet ++
      (if (bucketed) Set("bucketed") else Set.empty) ++
      (if (evolves.size >= 2 && ops.slice(evolves(0), evolves(1)).exists(_.isInstanceOf[Append]))
        Set("renamed-column-data") else Set.empty)
  }

  test("lookup equals a scan filtered on the key (differential property)") {
    val probes = (0 until keySpace).map(key) ++ Seq("k99", "a", "", null)
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(history) { case (bucketed, ops) =>
      val t = build(bucketed, ops)
      // the scan read once; filtering it on a key here equals
      // scan().filter(col("doc_id") === key): no row matches a null key
      val all = t.scan(spark)
      val scannedRows = all.collect().toSeq
      seen ++= traits(bucketed, ops)
      probes.forall { k =>
        val got = t.lookup(spark, k)
        val want = scannedRows.filter(r => k != null && r.getString(0) == k)
        if (want.size >= 2 && t.planFilesForKey(k).size >= 2) seen += "key-in-several-files"
        val same = got.schema == all.schema &&
          rows(got) == want.groupBy(identity).map { case (r, rs) => r -> rs.size }
        if (!same) println(s"lookup($k) over $ops (bucketed=$bucketed): ${got.collect().toSeq} vs $want")
        same
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, res.toString)
    val wanted = Set("delete-between-writes", "duplicate-key", "bucketed", "renamed-column-data",
      "key-in-several-files")
    assert(wanted.subsetOf(seen), s"histories never exercised ${wanted -- seen}")
  }

  test("a lookup runs no Spark job") {
    val t = SequenceGen.createTable(spark, tmpDir("lookup-jobs") + "/tbl", 400, 4)
    val k = "doc%012d".format(123L)
    assert(t.planFilesForKey(k).nonEmpty)
    val want = rows(hashes(scanned(t, k)))
    assert(want.values.sum == 1)
    val (got, jobs) = JobCounter.jobsOf(spark.sparkContext)(rows(hashes(t.lookup(spark, k))))
    assert(got == want)
    assert(jobs == 0, s"lookup ran $jobs jobs")
  }

  test("a null key matches no row") {
    val t = SequenceGen.createTable(spark, tmpDir("lookup-null") + "/tbl", 100, 2)
    assert(t.planFilesForKey(null).isEmpty)
    assert(t.lookup(spark, null).collect().isEmpty)
    assert(scanned(t, null).collect().isEmpty)
  }
}
