package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`). Brute-force cosine top-k is the exact baseline; the
 * scale path buckets vectors with deterministic random-hyperplane LSH so the
 * per-query candidate set is a tiny fraction of the corpus (at 10^12 rows the
 * brute force is a full scan per query; the LSH variant prunes to one bucket
 * chain). All math is `functions._` column algebra — no UDFs, though note
 * the higher-order-function lambdas (`aggregate`/`zip_with`/`transform`)
 * are interpreted by Catalyst, not whole-stage-codegen'd: fine here because
 * the dot products run over already-pruned candidate sets, not the corpus.
 */
object AnnOps {

  /** Dot product of two numeric-array columns (computed in double) — the
    * native [[graft.functions.DotProduct]] expression; identical value and
    * null semantics to the columnar reference fold
    * `aggregate(zip_with(a, b, x*y), 0.0, +)` that the oracle SQL mirrors,
    * in one JVM loop per row instead of interpreted per-element lambdas. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact brute-force top-k by cosine: broadcast the (small) query set,
   * cross-score against the corpus, window-rank per query. One shuffle
   * (rank), no driver collection.
   */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /**
   * `planes`-bit random-hyperplane LSH signature of a vector column, in pure
   * integer math so any SQL engine reproduces it exactly: the vector is
   * quantized to `floor(x * 1e6)` and each hyperplane's components are a
   * deterministic per-plane quadratic hash in the dimension index, centered
   * on zero. The sign of the exact integer dot product sets the bit — no
   * float-summation-order hazard can flip a bucket between engines.
   * |vq| <= ~1e7 and |component| <= 5e5, so a 4096-dim dot stays < 2^56.
   * The columnar reference formulation, which the DuckDB oracle mirrors, is
   * `graft.ColumnarReference.lshSignature` in the test tree (VectorExprSpec).
   */
  def lshSignature(vec: Column, planes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.LshSignature(
      ColumnBridge.expression(vec), planes))
  }

  /**
   * LSH-bucketed ANN: signature-equality join prunes candidates to one
   * bucket, then exact cosine ranks within it. Recall < 1 by construction;
   * `planes` trades bucket size against recall.
   */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      lshSignature(col(vecCol), planes).as("sig"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      lshSignature(col(vecCol), planes).as("sig")))
    val scored = c.join(q, Seq("sig")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /**
   * IVF (inverted-file) ANN — the classic scale path: a small driver-side
   * k-means builds `nCells` centroids from a bounded sample; every corpus
   * vector is assigned to its nearest cell (one codegen'd argmax over a
   * broadcast centroid literal — no UDF, no shuffle); a query probes only
   * its `nProbe` nearest cells, so the exact-cosine rank runs over
   * ~nProbe/nCells of the corpus. At 10^12 rows the cell assignment is a
   * one-off maintenance pass and cells become partition keys.
   */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    // --- driver-side k-means over a bounded sample (seeded, deterministic)
    val sample: Array[Array[Double]] = corpus.select(col(vecCol))
      .sample(withReplacement = false, 1.0, seed = 11).limit(nCells * 64)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    var centroids: Array[Array[Double]] = sample.take(nCells)
    (1 to kmeansIters).foreach { _ =>
      val dim = centroids(0).length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCell(v, centroids)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)

    // --- cell assignment as pure column algebra over the broadcast literal
    def cellOf(vec: Column): Column = {
      val scored = transform(centLit, c =>
        aggregate(zip_with(vec, c, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, v) => acc + v))
      // argmax via max_by over (score, -index): deterministic tie-break
      val n = centroids.length
      val idx = sequence(lit(0), lit(n - 1))
      aggregate(
        zip_with(scored, idx, (s, i) => struct(s.as("s"), i.as("i"))),
        struct(lit(Double.MinValue).as("s"), lit(-1).as("i")),
        (best, cur) => when(cur.getField("s") > best.getField("s"), cur).otherwise(best))
        .getField("i")
    }
    def probeCells(vec: Column, p: Int): Column = {
      val scored = transform(centLit, c =>
        aggregate(zip_with(vec, c, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, v) => acc + v))
      val n = centroids.length
      val idx = sequence(lit(0), lit(n - 1))
      slice(transform(
        array_sort(zip_with(scored, idx, (s, i) => struct((-s).as("neg"), i.as("i")))),
        e => e.getField("i")), 1, p)
    }

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      cellOf(col(vecCol)).as("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeCells(col(vecCol), nProbe)).as("cell")))
    val scored = c.join(q, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  private def nearestCell(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i) * centroids(c)(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Per-vector scale of symmetric int8 scalar quantization: maxAbs/127. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /**
   * Symmetric int8 scalar quantization of an embedding column — the storage
   * scale path for vector corpora (4x smaller than float32, so 4x less scan
   * and shuffle bandwidth per ANN pass; |x - q*scale| <= scale/2 per
   * element, spec-bounded). Pure column algebra; a zero vector quantizes to
   * zeros (the unguarded division would be NaN, which ANSI mode refuses to
   * cast).
   */
  def quantizeInt8(vec: Column): Column = {
    val s = int8Scale(vec)
    when(s === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec, x => round(x.cast("double") / s).cast("int")))
  }

  /** Dequantize an int8-quantized vector given its scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Cosine near-duplicate pairs via LSH blocking + exact verify. Candidate
    * pairs come from a SLIM (id, sig) self-join: the signature space has
    * only 2^planes values, so a groupBy-bucket + collect_list expansion (the
    * MinHash shape, where band keys are high-cardinality) would materialize
    * a whole bucket's O(n²) pairs inside one row — unbounded memory. The
    * streamed sig-equality join emits the same pairs row by row carrying 16
    * bytes a side; the exact-cosine verify then re-joins vectors for just
    * the matched ids behind a semi-join, so full vectors never ride the
    * bucket shuffle. The semi-join carries NO broadcast hint: the matched-id
    * set is unbounded on duplicate-heavy corpora (the target workload), so
    * AQE decides — it broadcasts when the set actually fits. */
  def cosineNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      planes: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sigs = corpus.select(col(idCol).as("id"), lshSignature(col(vecCol), planes).as("sig"))
    // The pair list feeds three downstream consumers (the verify join and,
    // via pairIds, both vector fetches); without a cut Spark re-executes the
    // candidate-generation join for each — 3x the blocking cost at corpus
    // scale. localCheckpoint materializes it once; it is the SLIM relation
    // (two ids/row), bounded by the LSH collision count, never the vectors.
    val pairs = sigs.toDF("id_a", "sig")
      .join(sigs.toDF("id_b", "sig"), Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val pairIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val vecs = corpus
      .join(pairIds, corpus(idCol) === pairIds("id"), "left_semi")
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    pairs
      .join(vecs.toDF("id_a", "v_a"), Seq("id_a"))
      .join(vecs.toDF("id_b", "v_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
