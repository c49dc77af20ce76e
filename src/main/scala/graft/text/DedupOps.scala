package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines. All shapes are
 * shuffle-conscious: exact dedup is one hash aggregation; MinHash-LSH and
 * SimHash candidate generation bucket *before* any pairwise work so the
 * quadratic step only runs inside small buckets (the scale path for 10^12
 * docs); nothing ever collects to the driver.
 */
object DedupOps {

  /** Exact dedup by full text: keep the smallest id per text. One shuffle,
    * whose grouping key is a 128-bit content hash (two independent xxhash64
    * seeds) rather than the text itself — with mostly-unique documents the
    * map-side partial aggregation cannot shrink the data, so grouping by raw
    * text would push the entire corpus through the exchange; the hash key
    * moves 16 bytes + id per row. Collision odds at 10^12 docs ≈ 1e-12
    * (birthday bound on 128 bits). Re-join on id for the surviving text. */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(
      xxhash64(col(textCol), lit(1)).as("_h1"), xxhash64(col(textCol), lit(2)).as("_h2"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))

  /** Incremental exact dedup: from a NEW batch, keep one doc per text that
    * does not already exist in the historical corpus — the shape every
    * recurring crawl ingestion needs. Anti-join on the same 128-bit content
    * key as [[exactDedup]] (16 bytes a side — the text never shuffles),
    * then min-id-per-text within the surviving batch. Returns
    * (idCol, dup_count) like exactDedup. */
  def dedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def key(df: DataFrame) = df.select(
      xxhash64(col(textCol), lit(1)).as("_h1"), xxhash64(col(textCol), lit(2)).as("_h2"),
      col(idCol), col(textCol).isNull.as("_tnull"))
    // SQL equality semantics for NULL text: `c.text = b.text` never matches
    // NULL, so null-text batch rows bypass the anti-join (xxhash64 skips a
    // null child, which would otherwise equate all NULL texts with each
    // other); GROUP BY, by contrast, DOES collapse NULLs together — which
    // the hash grouping reproduces since all null rows share the seed-only
    // hash pair.
    val corpusKeys = key(corpus).filter(!col("_tnull"))
      .select(col("_h1"), col("_h2")).distinct().withColumn("_hit", lit(1))
    // ONE pass over the batch: a left join with a hit marker replaces the
    // anti-join + union shape (which planned two scans and two hash
    // evaluations of the batch); null-text rows keep their SQL semantics by
    // surviving regardless of the marker.
    key(batch)
      .join(corpusKeys, Seq("_h1", "_h2"), "left")
      .filter(col("_hit").isNull || col("_tnull"))
      .groupBy(col("_h1"), col("_h2"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))
  }

  /** Distinct lowercase word set of a text column (the 1-gram shingle set). */
  def wordSet(textCol: org.apache.spark.sql.Column) =
    array_distinct(filter(split(lower(trim(textCol)), "\\s+"), w => length(w) > 0))

  /** Word n-gram shingles (space-joined windows of n consecutive words). */
  def shingles(textCol: org.apache.spark.sql.Column, n: Int) = {
    val words = split(lower(trim(textCol)), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** Per-word `graft.ColumnarReference.polyHash2Pow` states (test tree)
    * of a text column, computed by the native
    * [[graft.functions.WordHashStates]] expression (one JVM loop per row
    * instead of an interpreted per-char lambda walk — the measured MinHash
    * cost center). `graft.ColumnarReference.wordHashStates` (test
    * tree) is the semantic reference; DedupSpec pins their equality over
    * nasty strings. */
  private[graft] def wordHashStates(textCol: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordHashStates(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol)))

  /** All k MinHash values of the word n-gram shingles, from a materialized
    * [[wordHashStates]] attribute, in ONE native pass (see
    * [[graft.functions.ShingleMinHashes]]). The columnar reference is
    * `minHashes(shingleHashesFromStates(states, n), k)`; DedupSpec pins
    * their bit-equality over nasty strings. */
  private[graft] def shingleMinHashes(
      states: org.apache.spark.sql.Column, n: Int, k: Int) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ShingleMinHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(states), n, k))

  /** Shingle (h1, h2) hashes from an ALREADY-MATERIALIZED word-state array
    * attribute: each window's hash is assembled from its word states with
    * the concatenation identity ([[TextOps.polyConcat2]]). `states` MUST be
    * a bound attribute from its own projection, never an inline expression:
    * higher-order-function lambdas are interpreted, so an inline `states`
    * is re-evaluated once per window — O(words · chars) per row, a ~20×
    * regression measured at sf0.1. (CollapseProject keeps the projections
    * separate because the alias is non-cheap and referenced more than
    * once.) */
  private[text] def shingleHashesFromStates(states: org.apache.spark.sql.Column, n: Int) =
    transform(
      sequence(lit(0), greatest(size(states) - n, lit(0))),
      i => {
        val window = slice(states, i + 1, lit(n))
        // Defensive null handling for a caller-supplied empty states array:
        // get() (null on out-of-bounds under any ANSI setting — element_at
        // throws once containsNull=false lets it prove non-nullness) +
        // coalesce to (0, 0), the hash of "". With the standard word
        // splitter this never fires — split('', re) = [""] (a real empty
        // word), not [].
        val first = get(window, lit(0))
        aggregate(
          slice(window, lit(2), lit(n - 1)),
          struct(coalesce(first.getField("h1"), lit(0L)).as("h1"),
            coalesce(first.getField("h2"), lit(0L)).as("h2")),
          (acc, w) => TextOps.polyConcat2(acc, w))
      })

  /** (id, hp): word n-gram shingle double-hash pairs per document, via
    * word-level polynomial composition — each character of the corpus is
    * hashed ONCE (one `graft.ColumnarReference.polyHash2Pow` state per
    * word, then O(1) combine steps per shingle) instead of once per
    * covering shingle, with values BIT-IDENTICAL to hashing each shingle
    * string directly (same polynomial), so hash-consuming oracles are
    * unaffected. Windows are not deduplicated: downstream `array_min`
    * (MinHash) is multiplicity-blind, and skipping the dedup also skips
    * materializing every shingle as a string. */
  def shingleHashed(
      docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"), wordHashStates(col(textCol)).as("_ws"))
      .select(col("id"), shingleHashesFromStates(col("_ws"), n).as("hp"))

  /**
   * Benchmark decontamination: flag corpus documents sharing any word
   * n-gram with an evaluation set — the published GPT-3/Gopher recipe
   * (Brown et al. 2020 §C; Rae et al. 2021), where n is 8–13 for natural
   * text (tests here use a smaller n only because the synthetic corpus
   * draws from a ~30-word vocabulary). Both sides reduce to their distinct
   * word-n-gram double-hash sets (each corpus character hashed once, via
   * [[shingleHashed]]'s word-level polynomial composition); the flag is one
   * equi-join carrying only (id, h1, h2) through the exchange — the text
   * never shuffles — then a per-doc count of distinct matched n-grams.
   * Scale: |corpus n-grams| rows of ~24 B against |eval n-grams| (eval sets
   * are tiny — AQE broadcasts them); contaminated docs then semi-join back
   * for removal, exactly like the near-dup pipelines.
   */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame) = shingleHashed(df, n, idCol, textCol)
      .select(col("id"), explode(array_distinct(col("hp"))).as("s"))
      .select(col("id"), col("s.h1").as("h1"), col("s.h2").as("h2"))
    grams(corpus)
      .join(grams(evalSet).drop("id").distinct(), Seq("h1", "h2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("matched_ngrams"))
  }

  /**
   * Pairwise n-gram Jaccard similarity over candidate pairs sharing a join
   * key (e.g. same language+source). Self-join stays bounded because the
   * caller picks the blocking key; returns (id_a, id_b, jaccard) with a<b.
   */
  def jaccardPairs(
      docs: DataFrame,
      blockCols: Seq[String],
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withSet = docs.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+ wordSet(col(textCol)).as("ws"): _*)
    val a = withSet.toDF(withSet.columns.toIndexedSeq.map(c => s"a_$c"): _*)
    val b = withSet.toDF(withSet.columns.toIndexedSeq.map(c => s"b_$c"): _*)
    val joinCond = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
      .reduce(_ && _) && col("a_id") < col("b_id")
    a.join(b, joinCond)
      .select(
        col("a_id").as("id_a"), col("b_id").as("id_b"),
        round(
          size(array_intersect(col("a_ws"), col("b_ws"))).cast("double") /
            size(array_union(col("a_ws"), col("b_ws"))).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** k MinHash values over a precomputed array of (h1, h2) double-hash
    * structs: min over shingles of the i-th seeded hash. Deterministic,
    * codegen'd, engine-portable integer math (see [[TextOps.seededHash]]). */
  def minHashes(hashPairCol: org.apache.spark.sql.Column, k: Int) =
    (0 until k).map { i =>
      array_min(transform(hashPairCol,
        s => TextOps.seededHash(i, s.getField("h1"), s.getField("h2")))).as(s"mh_$i")
    }

  /**
   * MinHash-LSH near-duplicate candidates: shingle → k minhashes → `bands`
   * bands of `rowsPerBand` hashes → band-key join. Only docs sharing a
   * band's full minhash tuple collide; the pairwise verify then computes
   * true Jaccard on just those pairs. Scale shape: the band join carries
   * ONLY (id, band, key) — never the shingle arrays (a bands× array blowup
   * through the shuffle at 10^12 docs); matched pairs re-join a slim
   * (id, shingles) projection for the verify. Buckets larger than
   * `maxBucket` (duplicate-heavy corpora: 10^6 copies of one boilerplate
   * template share every band) are routed through a streamed equi-join
   * instead of the in-row pair expansion, so no task ever materializes a
   * bucket's O(n²) pairs in one row.
   *
   * With `barrier = true` (the default) the call is EAGER: the candidate
   * pairs materialize before the verify plans against them (see the barrier
   * comment below). `barrier = false` returns the fully lazy plan — for
   * `.explain` inspection or callers composing their own materialization —
   * at the cost of the build subtree replanning once per consumer.
   */
  def minhashLshPairs(
      docs: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      shingleN: Int = 3,
      verifyThreshold: Double = 0.7,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 64,
      barrier: Boolean = true): DataFrame = {
    val k = bands * rowsPerBand
    // NOTE: no size filter on the shingle set — it is vacuous (the window
    // sequence always yields >= 1 element, exactly like the oracle's
    // WHERE len(sh) > 0). Empty texts hash to the ""-shingle
    // pair; two empty docs verify at jaccard 1.0 ([""] ∩ [""] / [""] ∪ [""])
    // and ARE emitted as a pair — matching the string-shingle oracle
    // (spec-pinned in DedupSpec). The full states→windows→k-member-min
    // chain runs in the single native pass of [[shingleMinHashes]]; `_ws`
    // is materialized in its own projection per the [[wordHashStates]]
    // discipline.
    val sigs = docs.select(col(idCol).as("id"), wordHashStates(col(textCol)).as("_ws"))
      .select(col("id"), shingleMinHashes(col("_ws"), shingleN, k).as("mh"))
    val banded = sigs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          slice(col("mh"), b * rowsPerBand + 1, rowsPerBand).as("key"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.key").as("key"))
    // One hash aggregation groups each (band, key) bucket with a HARD
    // element cap ([[graft.functions.CappedCollect]]): ≤ maxBucket
    // elements = the complete bucket; exactly maxBucket + 1 = the overflow
    // marker for a bucket too big to pair in-row. No count-over-window
    // bucket-size pass, so nothing sorts the banded relation, and no
    // bucket ever materializes more than maxBucket + 1 ids in one row
    // however duplicate-heavy the corpus.
    val cappedIds = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.CappedCollect(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("id")),
        maxBucket).toAggregateExpression())
    val bucketed = banded.groupBy(col("band"), col("key"))
      .agg(cappedIds.as("ids"))
    // Small buckets (the LSH common case — high-cardinality band keys):
    // in-row pair expansion over the complete collected bucket, NOT a
    // self-join; a self-join would execute the whole minhash pipeline once
    // per side. Quadratic work only inside a ≤ maxBucket bucket, so a row
    // holds at most maxBucket²/2 pair structs.
    val sortedIds = sort_array(col("ids"))
    val pairCombos = flatten(transform(
      sequence(lit(0), size(sortedIds) - 2),
      i => transform(
        slice(sortedIds, i + 2, size(sortedIds)),
        b => struct(element_at(sortedIds, i + 1).as("id_a"), b.as("id_b")))))
    val smallPairs = bucketed
      .filter(size(col("ids")) <= maxBucket && size(col("ids")) > 1)
      .select(explode(pairCombos).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      // sorted combos give a <= b; strictness guards a duplicated id ever
      // producing a self-pair
      .filter(col("id_a") < col("id_b"))
    // Oversized buckets: re-fetch their rows with a slim (band, key) join
    // against the overflowed keys, then stream the SAME pair set row-by-row
    // through an equi-join — each output row carries two ids, never a whole
    // bucket, so memory stays bounded. In the common case the overflow set
    // is empty and AQE prunes both joins without running them; when it is
    // small AQE broadcasts it. (The pair COUNT is still quadratic in the
    // cluster size — that is the contract of emitting pairs; pipelines that
    // expect giant duplicate clusters should run exactDedup first, as
    // pipelineCurate does.)
    val largeKeys = bucketed.filter(size(col("ids")) === maxBucket + 1)
      .select(col("band"), col("key"))
    val large = banded.join(largeKeys, Seq("band", "key"))
    val largePairs = large.select(col("band"), col("key"), col("id").as("id_a"))
      .join(large.select(col("band"), col("key"), col("id").as("id_b")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // Materialization barrier on the candidate pairs — NOT an optional
    // cache: the pair relation is consumed by three downstream subtrees
    // (both id-set projections and the verify join), and without a barrier
    // Catalyst replans the whole scan→hash→band→bucket pipeline once per
    // consumer (measured: 17 scans / 31 exchanges in one plan). The
    // checkpointed relation is two longs per row — slim at any corpus
    // scale — and the build is the expensive part worth running exactly
    // once. Makes this call eager (it runs the build job).
    val pairsLazy = smallPairs.union(largePairs).distinct()
    val pairs = if (barrier) pairsLazy.localCheckpoint() else pairsLazy
    // Exact-Jaccard verify over ONLY the matched docs: the semi-join
    // filters rows before the shingle recompute, so the verify pass costs
    // O(|matched docs|), not O(|corpus|). No broadcast hint — the matched-id
    // set is unbounded on duplicate-heavy corpora; AQE broadcasts it when
    // (and only when) it actually fits.
    // No .distinct() on the id side: left_semi keeps each doc once however
    // many pairs reference it, so a distinct here is a pure extra exchange.
    val pairIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
    val vsh = docs
      .join(pairIds, docs(idCol) === pairIds("id"), "left_semi")
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    pairs
      .join(vsh.toDF("id_a", "a_sh"), Seq("id_a"))
      .join(vsh.toDF("id_b", "b_sh"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= verifyThreshold)
  }

  /** 64-bit SimHash from word-hash (h1, h2) structs: per-bit majority vote,
    * bit b of a word's vote is the parity of the b-th seeded double hash.
    * `hashes` should be a MATERIALIZED attribute (see [[simHashed]]) — it is
    * referenced by all 64 bit expressions, and an inline expression would be
    * re-evaluated per bit. */
  def simHashFromHashes(hashes: org.apache.spark.sql.Column) =
    (0 until 64).map { b =>
      val votes = aggregate(hashes, lit(0),
        (acc, s) => acc + when(
          TextOps.seededHash(b, s.getField("h1"), s.getField("h2")) % 2 === 1, 1).otherwise(-1))
      when(votes > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** (idCol, simhash) with the word-hash array materialized once per row by
    * the native [[graft.functions.WordSetHashes]] expression (distinct
    * words in first-occurrence order, hashed in one JVM loop; equality with
    * the columnar `graft.ColumnarReference.simHash` in the test tree is
    * spec-pinned). */
  def simHashed(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.WordSetHashes(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)))).as("_wh"))
      .select(col(idCol), simHashFromHashes(col("_wh")).as("simhash"))

  /**
   * Connected components over near-duplicate pairs — dedup needs GROUPS, not
   * pairs: "keep one doc per duplicate cluster" requires the transitive
   * closure of the pair relation. Iterative min-label propagation: every
   * round each node takes the minimum label among itself and its neighbors;
   * labels only decrease and travel one hop per round, so it converges in
   * O(component diameter) rounds — near-dup clusters are shallow. Each round
   * is one join + one aggregation, `localCheckpoint`ed so the plan and
   * lineage do not grow with the iteration count (the standard Spark
   * iterative-graph discipline; large-star/small-star halves round counts on
   * adversarial graphs but duplicate clusters do not need it).
   * Returns (id, component) for every id that appears in a pair, component =
   * min id of the cluster.
   */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    // No .distinct() on the symmetrized edges: `pairs` is a deduplicated
    // oriented relation (id_a < id_b, as minhashLshPairs emits), so the two
    // directions cannot collide and a distinct is a pure extra exchange.
    // Callers passing a duplicated pair relation pay redundant join rows,
    // never wrong labels (min is idempotent).
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint()
    // Round 1 fused into initialization: with identity labels the first
    // propagation's neighbor minimum is just min(dst) per src — one
    // aggregation replaces the distinct-nodes build AND the first
    // join+agg round.
    // The convergence count rides the checkpoint job as an Observation —
    // each round (and the init) is exactly ONE job: the propagation
    // join+agg whose materialization both pins the new labels and reports
    // how many changed. A separate .count() per round was a second
    // driver-blocking job over the same rows.
    def checkpointCounting(df: DataFrame, changedIf: org.apache.spark.sql.Column): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, count(when(changedIf, 1)).as("changed")).localCheckpoint()
      (ck, obs.get("changed").asInstanceOf[Long])
    }
    // Round 1 fused into initialization (cont.): one aggregation replaces
    // the distinct-nodes build AND the first join+agg round.
    var (labels, changed) = checkpointCounting(
      edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("comp"))
        .select(col("src").as("id"), col("comp")),
      col("comp") =!= col("id"))
    var i = 1
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid")).agg(min(col("comp")).as("ncomp"))
      val (joined, c) = checkpointCounting(
        labels.join(neighborMin, labels("id") === neighborMin("nid"), "left")
          .select(labels("id"), col("comp").as("_old"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp")),
        col("comp") =!= col("_old"))
      changed = c
      labels = joined.select(col("id"), col("comp"))
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }
}
