package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/**
 * One benchmark run: one workload, one seed. Writes the raw result (latency
 * samples, measured values, check outcomes and, when traced, per-layer
 * metrics) as JSON to `--out`; run.py turns it into the reported metrics.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir> --out <file> --fixtures <dir> --counts <file>
 */
object Main {

  val workloads = Seq("cluster_query", "merge_stream")
  private implicit val formats: Formats = DefaultFormats

  private def writeJson(path: String, obj: Map[String, Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Serialization.write(obj))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only: the run needs no network beyond its own process
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val seed = args("seed").toLong
    val tracer = new Tracer(spark, s"$workload-$seed-${System.currentTimeMillis()}", args("trace") == "1")
    val ctx = new Ctx(spark, tracer, workload, seed, args("seconds").toDouble, work, cores)
    ctx.log(f"session ready, ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2fs after JVM start")
    try {
      val t = workload match {
        case "cluster_query" => Workloads.clusterQuery(ctx, args("fixtures"), readCounts(args("counts")))
        case "merge_stream"  => Workloads.mergeStream(ctx)
      }
      ctx.log("checked")
      if (ctx.traced) {
        Probes.run(ctx, t)
        ctx.log("probed")
        tracer.flush()
        Layers.fill(ctx)
        val spansOut = args("out").replaceAll("\\.json$", "") + "-spans.json"
        writeJson(spansOut, tracer.spansJson())
      }
      writeJson(args("out"), Map(
        "workload" -> workload,
        "seed" -> seed,
        "cores" -> cores,
        "correct" -> ctx.checks.forall(_._2),
        "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
        "attempted" -> ctx.attempted,
        "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> (ctx.values.toMap ++ Map("heap_peak_mb" -> ctx.heapPeakMb, "failed_ops" -> ctx.failedOps.toDouble)),
        "layers" -> ctx.layers.toMap))
    } finally {
      spark.stop()
      ctx.log("stopped")
    }
  }

  /** `{"query": rows, ...}` — the recorded row count of each catalog entry. */
  private def readCounts(path: String): Map[String, Long] =
    JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path))).extract[Map[String, Long]]
}
