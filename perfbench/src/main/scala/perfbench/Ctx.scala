package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** State of one benchmark run: inputs, the tracer, and everything measured. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val work: String,
    val cores: Int) {

  /** Raw latency samples, summarised by the caller (run.py). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Single measured values, reported as they are. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced run only). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  /** Operations whose answer was wrong (a lookup or a query row count). */
  var failedOps = 0L
  private var heapMb = 0.0

  private val startNs = System.nanoTime()
  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - startNs) / 1e9}%7.2fs $workload: $msg")

  def traced: Boolean = tracer.enabled
  def dir(name: String): String = s"$work/$name"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** False while a warm-up call runs: its timings are not kept, and its
    * spans are marked as warm-up. */
  def recording: Boolean = tracer.recording

  /** Run `body` once untimed, so JIT compilation and Spark's lazy set-up
    * are done before the measured calls of the same kind. */
  def warmUp[T](body: => T): T = {
    tracer.recording = false
    try body finally tracer.recording = true
  }

  def sample(key: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  def failedOp(name: String, detail: String): Unit = {
    failedOps += 1
    check(name, ok = false, detail)
  }

  /** Time `body` as one operation of the closed loop (ms). */
  def op[T](key: String)(body: => T): T = {
    if (recording) attempted += 1
    val (r, ms) = Ctx.timeMs(body)
    sample(key, ms)
    r
  }

  /** Heap in use after a full collection; called only outside timed code. */
  def heapCheckpoint(): Unit = {
    // a second collection after Spark's cleaner has released what the
    // first one found unreachable
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapMb = math.max(heapMb, used / 1048576.0)
  }
  def heapPeakMb: Double = heapMb

  /** Closed loop: call `body(i)` until `window` seconds have passed and at
    * least `minOps` calls are done, or `body` reports no more input. */
  def closedLoop(minOps: Int, window: Double = seconds)(body: Int => Boolean): Int = {
    log("measuring")
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    while (more && (i < minOps || (System.nanoTime() - t0) / 1e9 < window)) {
      more = body(i)
      if (more) i += 1
    }
    log(s"measured $i calls")
    i
  }
}

object Ctx {
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (rows, bit_xor of xxhash64(doc_id, tokens)) — an order-free content
    * hash (a sum would overflow under ANSI mode). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"), col("tokens"))), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  def rowHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"), xxhash64(col("doc_id"), col("tokens")).as("h"))

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      var n = 0L
      java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(x => n += java.nio.file.Files.size(x))
      n
    }
  }
}
