package graft

import org.apache.spark.sql.SparkSession

/**
 * Optimization-round measurement harness (guide §1: measure first; §1.4 noop
 * sink; §1.5 labeled jobs). Bench.scala is the FROZEN driver contract — this
 * separate main exists so per-query isolation, repeats, plan dumps and
 * maintenance-step profiling never touch the measured methodology.
 *
 * Modes (args(0)):
 *   queries [reps]  — time every SparkEntry query via .count() exactly like
 *                     Bench's secondary section (same session, same warmup),
 *                     optionally repeated; SPARK_GRAFT_QUERY_FILTER limits to
 *                     comma-separated name prefixes. Prints one JSON line.
 *   noop [reps]     — same, but the action is a noop-sink write (computes
 *                     every column; isolates computation from count pruning).
 *   explain <dir>   — write <query>.txt = explain("formatted") of every
 *                     (filtered) query's returned frame into <dir>.
 *   maintprof <cores> <nDocs> <nFiles> [reps] — Bench.maintRun on a fresh
 *                     local[cores] session with per-stage timings (set
 *                     SPARK_GRAFT_BENCH_DEBUG=1 for per-step timings).
 */
object BenchExtra {

  private def filtered: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val fs = sys.env.get("SPARK_GRAFT_QUERY_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      fs.forall(_.exists(name.startsWith))
    }
  }

  private def addStageListener(spark: SparkSession, cores: Int): Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val agg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
      private val boot = System.nanoTime()
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        t0.put(e.stageInfo.stageId, System.nanoTime())
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) agg.merge(e.stageId,
          Array(e.taskInfo.duration, 1L,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.writeTime / 1000000,
            m.memoryBytesSpilled, m.executorCpuTime / 1000000),
          (a, b) => a.zip(b).map { case (x, y) => x + y })
      }
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val id = e.stageInfo.stageId
        val sub = t0.getOrDefault(id, 0L)
        val wallMs = (System.nanoTime() - sub) / 1e6
        val a = agg.getOrDefault(id, new Array[Long](8))
        System.err.println(f"STAGE $id t=${(sub - boot) / 1e9}%.2fs tasks=${a(1)} " +
          f"wall=$wallMs%.0fms taskSum=${a(0)}ms cpu=${a(7)}ms " +
          f"util=${a(0) / math.max(1.0, cores * wallMs)}%.2f " +
          f"shR=${a(2) / 1e6}%.0fMB shW=${a(3) / 1e6}%.0fMB fetchWait=${a(4)}ms " +
          f"shWTime=${a(5)}ms spill=${a(6) / 1e6}%.0fMB [${e.stageInfo.name.take(50)}]")
      }
    })

  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    try {
      SparkEntry.queries("agg_pricing")(spark, sfDir).count()
      import org.apache.spark.sql.functions._
      val toy = spark.range(200).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * lit(i + 3), lit(17)))): _*).as("text"))
      text.DedupOps.connectedComponents(
        text.DedupOps.minhashLshPairs(toy, 4, 3, 3, 0.6)).count()
    } catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = if (args.nonEmpty) args(0) else "queries"
    def f(d: Double): String = "%.4f".format(d)

    mode match {
      case "queries" | "noop" =>
        val reps = if (args.length > 1) args(1).toInt else 1
        val spark = Bench.session(32)
        if (sys.env.contains("SPARK_GRAFT_STAGE_DEBUG")) addStageListener(spark, 32)
        warmup(spark, sfDir)
        val failed = scala.collection.mutable.LinkedHashSet[String]()
        val results = filtered.map { case (name, fn) =>
          val times = (1 to reps).map { _ =>
            spark.sparkContext.setJobDescription(s"bench-extra: $name")
            val t0 = System.nanoTime()
            try {
              if (mode == "noop")
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              else fn(spark, sfDir).count()
            } catch { case e: Throwable =>
              failed += name
              System.err.println(s"QUERY $name FAILED: ${e.getMessage}")
            }
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.setJobDescription(null)
          name -> times
        }
        val qs = results.map { case (k, v) =>
          s""""$k":${f(v.min)}""" }.mkString("{", ",", "}")
        val total = results.map(_._2.min).sum
        val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
        // failed queries are listed explicitly so a fast failure can never
        // read as a speedup in the machine-readable line
        println(s"""{"mode":"$mode","sf":"$sfDir","total_sec":${f(total)},""" +
          s""""failed":$failedJson,"queries":$qs}""")
        results.sortBy(-_._2.min).foreach { case (k, v) =>
          System.err.println(f"${v.min}%8.3f  $k  ${v.map(x => f(x)).mkString(" ")}")
        }
        spark.stop()

      case "explain" =>
        val dir = java.nio.file.Paths.get(if (args.length > 1) args(1) else "plans/r07")
        java.nio.file.Files.createDirectories(dir)
        val spark = Bench.session(32)
        filtered.foreach { case (name, fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), plan)
            System.err.println(s"explained $name")
          } catch { case e: Throwable =>
            System.err.println(s"EXPLAIN $name FAILED: ${e.getMessage}")
          }
        }
        spark.stop()

      case "maintprof" =>
        val cores = args(1).toInt
        val nDocs = args(2).toLong
        val nFiles = args(3).toInt
        val reps = if (args.length > 4) args(4).toInt else 1
        val spark = Bench.session(cores)
        // per-stage utilization/shuffle-byte telemetry (guide §1.1/§7.1)
        addStageListener(spark, cores)
        Bench.maintRun(spark, math.max(nDocs / 20, 5000), 8) // JIT warmup like BenchChild
        (1 to reps).foreach { i =>
          val (thr, sec) = Bench.maintRun(spark, nDocs, nFiles)
          println(f"MAINT rep=$i sec=$sec%.3f thr=$thr%.1f")
        }
        spark.stop()

      case other => sys.error(s"unknown BenchExtra mode $other")
    }
  }
}
