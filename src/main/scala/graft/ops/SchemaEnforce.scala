package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * SchemaEnforcer recast (reference nodestream/pipeline/filters.py:179-363):
 * the reference's filter is a state machine that *infers* a JSON schema from
 * the first N records (genson), persists it, then *enforces* (drop
 * non-conforming) or *warns* (log and pass). Spark-native: inference is a
 * bounded `spark.read.json` sample (driver-side, once per pipeline — the
 * analogue of the reference's N-record inference window), and enforcement is
 * a declarative `from_json` + validity predicate that runs codegen'd inside
 * the scan stage.
 */
object SchemaEnforce {

  /** Infer a StructType from a bounded sample of a JSON-string column —
    * the Infer state (reference filters.py:260-291). */
  def inferJsonSchema(df: DataFrame, jsonCol: String, sampleN: Int = 100): StructType = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = df.select(col(jsonCol)).as[String].filter((s: String) => s != null).limit(sampleN)
    val inferred = spark.read.json(sample).schema
    // corrupt sample records surface as the corrupt-record column, not schema
    StructType(inferred.fields.filterNot(
      _.name == spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")))
  }

  /** Fields non-null in EVERY sampled record. Mirrors genson + Draft-7
    * semantics (reference filters.py:260-291): a field is `required` only if
    * present in all samples — enforcing non-null on merely-optional fields
    * would silently drop valid records that omit them. */
  def inferRequiredFields(
      df: DataFrame, jsonCol: String, schema: StructType, sampleN: Int = 100): Set[String] = {
    if (schema.fields.isEmpty) return Set.empty
    // Permissive from_json maps corrupt JSON to a struct of nulls, which
    // would make every field look optional — sample only parseable records
    // (detected via the corrupt-record column, like the inference pass).
    import org.apache.spark.sql.types.{StringType, StructField}
    val withCorrupt = StructType(schema.fields :+ StructField("_corrupt", StringType))
    val parsed = from_json(col(jsonCol), withCorrupt,
      Map("columnNameOfCorruptRecord" -> "_corrupt").asJava)
    val sample = df.select(parsed.as("_p"))
      .filter(col("_p").isNotNull && col("_p").getField("_corrupt").isNull)
      .limit(sampleN)
    val aggs = schema.fields.toSeq.map(f => count(col("_p").getField(f.name))) :+ count(lit(1))
    val row = sample.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getLong(schema.fields.length)
    schema.fields.zipWithIndex.collect {
      case (f, i) if total > 0 && row.getLong(i) == total => f.name
    }.toSet
  }

  /** Validity of a JSON string against an inferred schema: parseable AND
    * every `required` top-level field present (non-null). `required`
    * defaults to all fields (the strict pre-inference contract). */
  def conforms(jsonCol: Column, schema: StructType, required: Option[Set[String]] = None): Column = {
    val parsed = from_json(jsonCol, schema)
    val req = required.getOrElse(schema.fieldNames.toSet)
    schema.fields.filter(f => req.contains(f.name)).foldLeft(parsed.isNotNull) { (acc, f) =>
      acc && parsed.getField(f.name).isNotNull
    }
  }

  /** Enforce mode: drop records that do not conform (filters.py:294-311). */
  def enforce(df: DataFrame, jsonCol: String, schema: StructType,
      required: Option[Set[String]] = None): DataFrame =
    df.filter(conforms(col(jsonCol), schema, required))

  /** Warn mode: pass everything, tag validity (filters.py:314-335). */
  def warn(df: DataFrame, jsonCol: String, schema: StructType,
      required: Option[Set[String]] = None): DataFrame =
    df.withColumn("_schema_valid", conforms(col(jsonCol), schema, required))
}
