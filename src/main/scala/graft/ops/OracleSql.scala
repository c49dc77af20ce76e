package graft.ops

/**
 * Programmatically generated DuckDB oracle SQL for the hash-based operators
 * (SimHash, MinHash-LSH, vector LSH). The Spark implementations use the
 * engine-portable integer hash family in [[graft.text.TextOps]]
 * (polynomial char hashes + Kirsch–Mitzenmacher seeded combinations and an
 * integer-quantized hyperplane hash), so an independent SQL engine can
 * reproduce every bucket, signature and candidate pair bit-for-bit. These
 * builders mirror those definitions term by term.
 */
object OracleSql {

  private val P1 = 1000000007L
  private val P2 = 999999937L

  /** Composite quality score over an alias exposing (text, t = ' '||text||' ',
    * words) — shared verbatim by the txt_quality and pipeline_curate oracles;
    * must stay byte-equivalent to TextOps.qualityScore. */
  val qualityExpr: String =
    """ROUND(LEAST(CAST(length(text) AS DOUBLE)/500.0, 1.0)*0.4
      |    + LEAST(CAST(len(regexp_extract_all(text,'[.,;:!?]')) AS DOUBLE)/CAST(GREATEST(words,1) AS DOUBLE), 1.0)*0.2
      |    + LEAST(CAST(CAST((length(t)-length(replace(t,' the ','')))/5 AS INT)+CAST((length(t)-length(replace(t,' and ','')))/5 AS INT)+CAST((length(t)-length(replace(t,' of ','')))/4 AS INT)+CAST((length(t)-length(replace(t,' a ','')))/3 AS INT)+CAST((length(t)-length(replace(t,' to ','')))/4 AS INT) AS DOUBLE)*10.0/CAST(GREATEST(words,1) AS DOUBLE), 1.0)*0.4, 4)""".stripMargin

  /** Oracle for pipeline_curate: quality gate → exact dedup (min id per
    * text) → fixed-length chunk stats over the curated stream — the whole
    * curation pipeline composed relationally. */
  def pipelineCurate(minQuality: Double, maxLen: Long): String =
    s"""WITH b AS (SELECT doc_id, text, ' ' || text || ' ' AS t,
  len(string_split(trim(text), ' ')) AS words, n_chars FROM documents),
ql AS (SELECT doc_id, n_chars, $qualityExpr AS quality FROM b),
k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
cur AS (SELECT ql.doc_id, ql.n_chars FROM ql JOIN k USING (doc_id) WHERE ql.quality >= $minQuality),
o AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n,
  COALESCE(CAST(SUM(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
  FROM cur),
spans AS (SELECT doc_id, n, off, UNNEST(generate_series(off // $maxLen, (off + n - 1) // $maxLen)) AS chunk_id
  FROM o WHERE n > 0)
SELECT chunk_id, COUNT(*) AS n_docs,
  CAST(SUM(LEAST(off + n, (chunk_id + 1) * $maxLen) - GREATEST(off, chunk_id * $maxLen)) AS BIGINT) AS n_tokens
FROM spans GROUP BY 1"""

  /** DuckDB poly-hash of a string expression `s` (mirrors TextOps.polyHash;
    * list_prepend(0) reproduces Spark's explicit zero init on empty input). */
  private def polyHash(s: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_extract_all($s, '.'), " +
      s"c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * $base + b) % $mod)"

  /** The i-th seeded double hash over zipped (h1, h2) pair z (mirrors
    * TextOps.seededHash). */
  private def seeded(i: Int, h1: String, h2: String): String =
    s"((${i + 1} * $h1 + ${i.toLong * i + 1} * $h2 + $i) % $P1)"

  /** 2^b as a DuckDB BIGINT literal (b = 63 needs the min-long dance). */
  private def pow2(b: Int): String =
    if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString

  /** Oracle for ddp_simhash: 64-bit per-bit majority vote over the distinct
    * word set, bit b = parity of the b-th seeded hash (mirrors
    * DedupOps.simHashed). */
  def simhash(filter: String): String = {
    val bits = (0 until 64).map { b =>
      val vote = s"list_sum(list_transform(list_zip(h1s, h2s), " +
        s"z -> CASE WHEN ${seeded(b, "z[1]", "z[2]")} % 2 = 1 THEN 1 ELSE -1 END))"
      s"(CASE WHEN $vote > 0 THEN ${pow2(b)} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH w AS (
  SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> length(x) > 0)) AS ws
  FROM documents WHERE $filter),
hp AS (
  SELECT doc_id,
    list_transform(ws, s -> ${polyHash("s", 131, P1)}) AS h1s,
    list_transform(ws, s -> ${polyHash("s", 137, P2)}) AS h2s
  FROM w)
SELECT doc_id, $bits AS simhash FROM hp"""
  }

  /** Oracle for ddp_minhash_lsh (mirrors DedupOps.minhashLshPairs: shingles
    * → k seeded minhashes → per-band minhash tuple equality join → distinct
    * pairs → exact Jaccard verify). */
  def minhashLsh(bands: Int, rowsPerBand: Int, shingleN: Int, threshold: Double): String = {
    val k = bands * rowsPerBand
    val mhCols = (0 until k).map { i =>
      s"list_min(list_transform(list_zip(h1s, h2s), z -> ${seeded(i, "z[1]", "z[2]")})) AS mh_$i"
    }.mkString(",\n    ")
    val bandRows = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh_$i").mkString(", ")
      s"SELECT id, $b AS band, [$key] AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS (
  SELECT doc_id AS id,
    list_distinct(list_transform(generate_series(1, greatest(len(ws) - ${shingleN - 1}, 1)),
      i -> array_to_string(ws[i:i+${shingleN - 1}], ' '))) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents)),
hp AS (
  SELECT id, sh,
    list_transform(sh, s -> ${polyHash("s", 131, P1)}) AS h1s,
    list_transform(sh, s -> ${polyHash("s", 137, P2)}) AS h2s
  FROM base WHERE len(sh) > 0),
sigs AS (
  SELECT id,
    $mhCols
  FROM hp),
banded AS (
  $bandRows),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
  FROM pairs JOIN hp a ON a.id = pairs.id_a JOIN hp b ON b.id = pairs.id_b)
WHERE jaccard >= $threshold"""
  }

  /** Oracle for ddp_components: connected components of the MinHash-LSH pair
    * relation via a recursive transitive closure (component = min reachable
    * id — exactly what min-label propagation converges to). */
  def minhashComponents(bands: Int, rowsPerBand: Int, shingleN: Int, threshold: Double): String =
    s"""WITH RECURSIVE mh AS (
${minhashLsh(bands, rowsPerBand, shingleN, threshold)}
),
edges AS (SELECT id_a AS src, id_b AS dst FROM mh UNION SELECT id_b, id_a FROM mh),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT id, MIN(r) AS comp FROM reach GROUP BY id"""

  /** DuckDB expression for the integer-quantized `planes`-bit hyperplane
    * signature of list column `vq` (mirrors AnnOps.lshSignature). */
  private def lshSig(vq: String, planes: Int): String = {
    val M = 1000003L
    (0 until planes).map { p =>
      val a = (2654435761L * (p + 1)) % M
      val b = (179426549L * (p + 1) + 97L) % M
      val proj = s"list_sum(list_transform(list_zip($vq, generate_series(1, len($vq))), " +
        s"z -> z[1] * ((z[2] * $a + z[2] * z[2] * $b) % $M - ${(M - 1) / 2})))"
      s"(CASE WHEN $proj > 0 THEN ${pow2(p)} ELSE 0 END)"
    }.mkString("\n    + ")
  }

  private val quantize =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  private def cos(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"

  /** Oracle for ddp_embed_cosine_dup (mirrors AnnOps.cosineNearDupPairs). */
  def embedCosineDup(planes: Int, threshold: Double): String =
    s"""WITH q AS (
  SELECT vec_id AS id, embedding AS v, $quantize AS vq FROM embeddings),
s AS (
  SELECT id, v, ${lshSig("vq", planes)} AS sig FROM q)
SELECT id_a, id_b, cos FROM (
  SELECT a.id AS id_a, b.id AS id_b, ROUND(${cos("a.v", "b.v")}, 6) AS cos
  FROM s a JOIN s b ON a.sig = b.sig AND a.id < b.id)
WHERE cos >= $threshold"""

  /** Oracle for ann_lsh_topk (mirrors AnnOps.lshTopK). */
  def annLshTopK(planes: Int, k: Int, queryFilter: String): String =
    s"""WITH q AS (
  SELECT vec_id AS id, embedding AS v, $quantize AS vq FROM embeddings),
s AS (
  SELECT id, v, ${lshSig("vq", planes)} AS sig FROM q),
qs AS (SELECT id AS query_id, v AS qv, sig FROM s WHERE $queryFilter),
scored AS (
  SELECT qs.query_id, s.id AS neighbor_id, ROUND(${cos("qs.qv", "s.v")}, 6) AS cos
  FROM s JOIN qs ON s.sig = qs.sig AND s.id <> qs.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
WHERE rank <= $k"""

  /** Oracle for exact top-k cosine (ann_brute_topk, and ann_ivf_topk when it
    * probes every cell — full-probe IVF is exact by construction, which is
    * precisely the invariant worth gating: the IVF machinery must lose
    * nothing that the probed cells cover). */
  def bruteTopK(k: Int, queryFilter: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $queryFilter),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
  ROUND(${cos("q.qv", "e.embedding")}, 6) AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
WHERE rank <= $k"""
}
