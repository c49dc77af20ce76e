package graft

import org.apache.spark.sql.functions._

import graft.text.{DedupOps, TextOps}

/** Deduplication operators: the word-level polynomial hash composition must
  * be bit-identical to hashing shingle strings directly (the oracle hashes
  * strings), and the hot-bucket split must emit exactly the same pair set as
  * the in-row expansion while never materializing an oversized bucket. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "a completely different document about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, ""),
    (6L, "one"),
    (7L, "two words"),
    (8L, "Thé qüick bröwn fox"), // non-ASCII chars hash via codepoints
    (9L, "a completely different document about spark engines !")
  ).toDF("doc_id", "text")

  /** Strings chosen to stress every semantic edge the native hash
    * expressions must replicate: empty, space-only (trim eats it),
    * tab-edged (trim does NOT eat \t — split yields edge "" words),
    * NBSP (not regex \s — stays inside a word), case folding incl. ß/İ,
    * supplementary-plane code points, repeated internal whitespace. */
  private def nastyCorpus = Seq(
    "", " ", "\t", "\ta b\t", "x", "Thé qüick",
    new String(Character.toChars(0x1F642)) + " word",
    "a b", "MIXED Case\nnewline", "  double  spaces  ", "ß İ I STRASSE"
  ).zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")

  test("dedupAgainst NULL text follows SQL semantics: never matches corpus, groups together") {
    // `c.text = b.text` never matches NULL, so a null-text batch doc must
    // survive the anti-join even when the corpus also holds null text —
    // while GROUP BY (which DOES collapse NULLs) keeps min-id-per-group.
    val batch = Seq((10L, null: String), (11L, null: String), (12L, "shared"))
      .toDF("doc_id", "text")
    val corp = Seq((1L, null: String), (2L, "shared")).toDF("doc_id", "text")
    val out = DedupOps.dedupAgainst(batch, corp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "shared" exists in the corpus -> dropped; the two null-text docs
    // survive and collapse into one GROUP BY group (min id 10, count 2)
    assert(out == Set((10L, 2L)), s"got $out")
  }

  test("native hash expressions == columnar reference folds on nasty strings") {
    // WordHashStates vs the pure-column per-char fold
    val states = nastyCorpus.select(col("doc_id"),
      DedupOps.wordHashStates(col("text")).as("h"))
    val statesRef = nastyCorpus.select(col("doc_id"),
      ColumnarReference.wordHashStates(col("text")).as("h2"))
    assert(states.join(statesRef, Seq("doc_id"))
      .filter(!(col("h") <=> col("h2"))).isEmpty, "WordHashStates diverges")
    // WordSetHashes (via simHashed) vs the columnar simHash
    val sim = DedupOps.simHashed(nastyCorpus).as[(Long, Long)].collect().toSet
    val simRef = nastyCorpus.select(col("doc_id"),
      ColumnarReference.simHash(col("text")).as("simhash")).as[(Long, Long)].collect().toSet
    assert(sim == simRef, "WordSetHashes diverges from columnar simHash")
    // CharPolyHash (via fingerprint64) vs the columnar polyHash fold
    val fp = nastyCorpus.select(col("doc_id"),
      TextOps.fingerprint64(col("text")).as("f"),
      TextOps.polyHash(col("text"), 131, TextOps.HashMod1).as("f2"))
    assert(fp.filter(!(col("f") <=> col("f2"))).isEmpty, "CharPolyHash diverges")
  }

  test("ShingleMinHashes == columnar minHashes over shingle hashes (nasty strings, several n/k)") {
    // k = 100 covers the standard 20-band × 5-row LSH config — signature
    // width is a loop bound, not packed into a word, so no 64 cap
    for (n <- Seq(1, 3); k <- Seq(1, 12, 100)) {
      val native = nastyCorpus
        .select(col("doc_id"), DedupOps.wordHashStates(col("text")).as("_ws"))
        .select(col("doc_id"), DedupOps.shingleMinHashes(col("_ws"), n, k).as("mh"))
        .as[(Long, Seq[Long])].collect().toMap
      val columnar = DedupOps.shingleHashed(nastyCorpus, n)
        .select(col("id") +: DedupOps.minHashes(col("hp"), k): _*)
        .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
      assert(native == columnar, s"diverges at n=$n k=$k")
    }
    // caller-supplied EMPTY states array: member s evaluates to s
    val empty = Seq((1L, Seq.empty[(Long, Long, Long, Long)])).toDF("doc_id", "st")
      .select(col("doc_id"), DedupOps.shingleMinHashes(
        col("st").cast("array<struct<h1:bigint,h2:bigint,p1:bigint,p2:bigint>>"), 3, 4).as("mh"))
      .as[(Long, Seq[Long])].head
    assert(empty._2 == Seq(0L, 1L, 2L, 3L))
  }

  test("text-hash expressions generate real code: CODEGEN_ONLY runs and matches") {
    // Forced-codegen re-run of the identity checks: a doGenCode that fails
    // to compile aborts here instead of silently falling back to eval.
    withCodegenOnly {
      val states = nastyCorpus.select(col("doc_id"),
        DedupOps.wordHashStates(col("text")).as("h"))
      val statesRef = nastyCorpus.select(col("doc_id"),
        ColumnarReference.wordHashStates(col("text")).as("h2"))
      assert(states.join(statesRef, Seq("doc_id"))
        .filter(!(col("h") <=> col("h2"))).isEmpty, "WordHashStates codegen diverges")
      val sim = DedupOps.simHashed(nastyCorpus).as[(Long, Long)].collect().toSet
      val simRef = nastyCorpus.select(col("doc_id"),
        ColumnarReference.simHash(col("text")).as("simhash")).as[(Long, Long)].collect().toSet
      assert(sim == simRef, "WordSetHashes codegen diverges")
      val fp = nastyCorpus.select(col("doc_id"),
        TextOps.fingerprint64(col("text")).as("f"),
        TextOps.polyHash(col("text"), 131, TextOps.HashMod1).as("f2"))
      assert(fp.filter(!(col("f") <=> col("f2"))).isEmpty, "CharPolyHash codegen diverges")
      val native = nastyCorpus
        .select(col("doc_id"), DedupOps.wordHashStates(col("text")).as("_ws"))
        .select(col("doc_id"), DedupOps.shingleMinHashes(col("_ws"), 3, 12).as("mh"))
        .as[(Long, Seq[Long])].collect().toMap
      val columnar = DedupOps.shingleHashed(nastyCorpus, 3)
        .select(col("id") +: DedupOps.minHashes(col("hp"), 12): _*)
        .collect().map(r => r.getLong(0) -> (1 to 12).map(r.getLong)).toMap
      assert(native == columnar, "ShingleMinHashes codegen diverges")
    }
  }

  test("shingleHashed == polyHash2 over shingle strings (composition identity)") {
    for (n <- Seq(1, 2, 3, 4)) {
      val viaStrings = corpus.select(
        col("doc_id").as("id"),
        transform(
          // same windows as shingleHashed: NOT deduped
          transform(
            sequence(
              lit(0),
              greatest(size(split(lower(trim(col("text"))), "\\s+")) - n, lit(0))),
            i => concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), i + 1, lit(n)))),
          ColumnarReference.polyHash2 _).as("hp"))
      val viaWords = DedupOps.shingleHashed(corpus, n)
      // null-SAFE inequality: =!= on structs with null fields returns null
      // and silently drops the row — exactly how the empty-text divergence
      // slipped past this test once
      val diff = viaStrings.join(viaWords.withColumnRenamed("hp", "hp2"), Seq("id"))
        .filter(!(col("hp") <=> col("hp2")))
      assert(diff.isEmpty, s"n=$n: word-composed hashes diverge from string hashes")
    }
  }

  test("minhashLshPairs: oversized-bucket join path emits the same pairs") {
    // maxBucket = 1 forces EVERY bucket through the streamed join path;
    // a huge maxBucket keeps everything on the in-row expansion path
    def run(maxBucket: Int) =
      DedupOps.minhashLshPairs(corpus, bands = 4, rowsPerBand = 3, shingleN = 3,
        verifyThreshold = 0.5, maxBucket = maxBucket)
        .as[(Long, Long, Double)].collect().toSet
    val viaJoin = run(1)
    val viaExpansion = run(1000000)
    assert(viaJoin.nonEmpty, "test corpus must produce near-dup pairs")
    assert(viaJoin == viaExpansion)
    // the exact duplicates must be found
    assert(viaJoin.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
  }

  test("empty texts hash as the empty shingle and pair with jaccard 1.0") {
    val pairs = DedupOps.minhashLshPairs(
      Seq((1L, ""), (2L, "   "), (3L, "real text here")).toDF("doc_id", "text"),
      bands = 2, rowsPerBand = 2, shingleN = 3, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 2L, 1.0)))
  }

  test("minhash plan: hash pipeline stays in projections, never in a Filter condition") {
    // The filter-pushdown trap (a measured ~10x regression): a predicate on
    // a derived array column gets pushed below its projection, inlining the
    // whole interpreted hash fold into the Filter condition — where any
    // word-state reference inside a window lambda is re-evaluated per
    // window. The hash fold (pmod arithmetic) must only ever appear in
    // Project nodes.
    val p = DedupOps.minhashLshPairs(corpus, bands = 4, rowsPerBand = 3,
      shingleN = 3, verifyThreshold = 0.6)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val filterConditions = p.linesIterator.filter(_.contains("Condition")).toSeq
    assert(!filterConditions.exists(_.contains("pmod")),
      "interpreted hash fold inlined into a Filter condition")
    assert(!p.contains("BroadcastNestedLoop"))
  }

  test("simHashed == simHash single-column form") {
    val viaCol = corpus.select(col("doc_id"),
      ColumnarReference.simHash(col("text")).as("simhash"))
      .as[(Long, Long)].collect().toSet
    val viaDf = DedupOps.simHashed(corpus).as[(Long, Long)].collect().toSet
    assert(viaCol == viaDf)
  }

  test("minhashLshPairs: string doc ids work on both bucket paths") {
    // the capped bucket collect is type-generic like collect_list — a
    // string id must neither fail analysis nor crash mid-job, and both the
    // in-row expansion and the streamed-join path must agree
    val named = corpus.select(
      concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
    def run(maxBucket: Int) =
      DedupOps.minhashLshPairs(named, bands = 4, rowsPerBand = 3, shingleN = 3,
        verifyThreshold = 0.5, maxBucket = maxBucket)
        .as[(String, String, Double)].collect().toSet
    val viaExpansion = run(1000000)
    assert(viaExpansion.exists { case (a, b, j) =>
      a == "doc-1" && b == "doc-4" && j == 1.0 }, viaExpansion.toString)
    assert(run(1) == viaExpansion)
  }

  test("minhashLshPairs: duplicate-heavy corpus completes with bounded buckets") {
    // 2000 identical docs share every band: the old in-row expansion built
    // one 2000²/2-struct row per band; the split routes them through the
    // streamed join. Verify completion and the pair count of the clique.
    val dups = spark.range(2000).select(
      col("id").as("doc_id"),
      lit("same boilerplate template text repeated everywhere").as("text"))
    val pairs = DedupOps.minhashLshPairs(dups, bands = 2, rowsPerBand = 2,
      shingleN = 3, verifyThreshold = 0.9, maxBucket = 64)
    assert(pairs.count() == 2000L * 1999 / 2)
  }
}
