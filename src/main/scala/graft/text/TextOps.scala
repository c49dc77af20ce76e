package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines, all pure
 * `org.apache.spark.sql.functions` column expressions (no UDFs — though note
 * Catalyst higher-order-function lambdas like `aggregate`/`transform` are
 * INTERPRETED, not whole-stage-codegen'd, so per-char HOF folds are the cost
 * center of hash-heavy operators; see polyConcat2 for the word-level
 * composition that amortizes them): language id, quality scoring, token
 * counting, fingerprinting.
 *
 * These extend the reference's normalizer/value-provider expression layer
 * (reference nodestream/pipeline/normalizers and value_providers dirs) with the
 * operations a 100 TB tokenization pipeline needs.
 */
object TextOps {

  /** Normalizers — 1:1 with the reference's four normalizers
    * (reference nodestream/pipeline/normalizers/…:6-8 each). */
  def lowercaseStrings(c: Column): Column = lower(c)
  def uppercaseStrings(c: Column): Column = upper(c)
  def trimWhitespace(c: Column): Column = trim(c)
  def removeTrailingDots(c: Column): Column = regexp_replace(c, "\\.+$", "")

  /** Occurrences of `needle` in `hay` — integer, engine-portable. */
  def countOccurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(regexp_replace(hay, java.util.regex.Pattern.quote(needle), ""))) /
      needle.length).cast("int")

  /** Marker words per language for the n-gram-heuristic language id.
    * Space-padded so they only hit whole words. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " los ", " una "),
    "fr" -> Seq(" le ", " les ", " des "))

  /**
   * Heuristic language id: count language-marker hits, argmax with
   * deterministic tie-break on language code; "und" (undetermined) when no
   * marker hits at all.
   */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scores = langMarkers.map { case (lang, markers) =>
      val s = markers.map(m => countOccurrences(padded, m)).reduce(_ + _)
      struct(s.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*) // max by (score, lang) — deterministic
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token estimate: runs of lowercase letters, runs of digits, and
    * single other non-space characters each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Quality-score composite in [0,1], rounded for cross-engine float
    * determinism. Computed by the native
    * [[graft.functions.QualityScoreRaw]] expression (one string walk per
    * row instead of ~7 regex/replace passes); its pure-column reference
    * definition is `graft.ColumnarReference.qualityScore` in the test tree,
    * equality spec-pinned (CurationSpec). */
  def qualityScore(text: Column): Column =
    round(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.QualityScoreRaw(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text))), 4)

  // --------------------------------------------- repetition quality signals

  /** Fraction of words that are repeats of an earlier word — the cheap half
    * of Gopher's repetition filters (Rae et al. 2021 §A1.1, public paper).
    * Pure column algebra over an already-split word array: no explode, no
    * shuffle, one pass per row. */
  def dupFraction(ws: Column): Column =
    round((size(ws) - size(array_distinct(ws))).cast("double") / size(ws), 4)

  /** Mass of the most frequent item (word / n-gram) in `items` — Gopher's
    * top-n-gram fraction. `items` must be a MATERIALIZED attribute (stage
    * the split in its own projection): the distinct list and the per-item
    * count lambdas all reference it, and an inline expression would re-split
    * the text once per reference. Per-row cost is O(n · distinct), bounded
    * by document length — fine for the ≤ few-thousand-word documents this
    * signal is defined over. */
  def topItemFraction(items: Column): Column =
    round(array_max(transform(array_distinct(items),
      w => size(filter(items, x => x === w)))).cast("double") / size(items), 4)

  /** Adjacent word bigrams of a word array; empty below two words (the
    * `when` gate also keeps `sequence(1, 0)` — which Spark would produce
    * DESCENDING — from ever evaluating). */
  def wordBigrams(ws: Column): Column =
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------------------------- PII scrub

  /** Conservative PII patterns (email + NANP-ish 3-4 phone tail): the RE2 /
    * Java-regex common subset, so an independent engine scrubs identically. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\b\\d{3}-\\d{4}\\b"

  /** Redactions [[piiScrub]] actually performs: email matches on the raw
    * text, phone matches on the post-email-scrub text — mirroring the
    * sequential replacement order, so text matched by both patterns (a
    * digit local-part like 555-1234@x.com) counts once, not twice. */
  def piiRedactionCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailRegex), lit(0))) +
      size(regexp_extract_all(
        regexp_replace(text, EmailRegex, "<EMAIL>"), lit(PhoneRegex), lit(0)))).cast("int")

  /** Replace every email/phone match with a typed placeholder token —
    * codegen'd regexp_replace, no UDF; at 100 TB this is a map-only stage
    * with zero shuffle. */
  def piiScrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRegex, "<EMAIL>"), PhoneRegex, "<PHONE>")

  /**
   * Order-sensitive rolling document fingerprint: polynomial position-weighted
   * hash over the character codes of the WHOLE text — pure integer math so an
   * independent SQL engine reproduces it exactly (no prefix truncation: two
   * documents differing only past any prefix still fingerprint apart).
   * Computed by the native [[graft.functions.CharPolyHash]] expression (one
   * JVM loop per row); [[polyHash]] at base 131 mod p1 is the pure-column
   * reference definition, equality spec-pinned.
   */
  def fingerprint64(text: Column): Column =
    graft.functions.GraftFunctions.char_poly_hash(text, 131, HashMod1)

  // ------------------------------------------------------- portable hashing
  // Engine-portable hash family: pure integer column math (no xxhash64 —
  // its output is not reproducible outside Spark, which made every hash-
  // based operator un-oracle-able). All intermediates stay far below 2^63
  // so ANSI-mode Spark and any SQL oracle agree bit-for-bit.

  /** Two coprime poly-hash moduli (largest primes < 1e9+9 / < 1e9). */
  val HashMod1 = 1000000007L
  val HashMod2 = 999999937L

  /** Polynomial rolling hash of a string's character codes:
    * fold(acc*base + codepoint) % mod. acc < mod ~ 2^30, so acc*base < 2^38. */
  def polyHash(c: Column, base: Long, mod: Long): Column =
    aggregate(
      transform(filter(split(c, ""), ch => length(ch) > 0), ch => ascii(ch).cast("long")),
      lit(0L), (acc, x) => pmod(acc * base + x, lit(mod)))

  /** The i-th member of the double-hash family: ((i+1)*h1 + (i²+1)*h2 + i)
    * mod p1. (i+1)*h1 <= 2^36 for i < 64 — no overflow anywhere. */
  def seededHash(i: Int, h1: Column, h2: Column): Column =
    pmod(lit((i + 1).toLong) * h1 + lit(i.toLong * i + 1) * h2 + lit(i.toLong), lit(HashMod1))

  /** Polynomial concatenation identity, both bases at once: appending
    * " " + word (whose `graft.ColumnarReference.polyHash2Pow` state, in
    * the test tree, is `w`) to an accumulated (h1, h2) pair `acc` gives
    *   h' = ((h*base + 32) mod p) * base^len(word) + h_word   (mod p)
    * — bit-identical to hashing the concatenated string char by char, since
    * it is literally the same polynomial evaluated by Horner blocks. Bounds:
    * every factor < p < 2^30, so the product stays < 2^60 (no overflow). */
  def polyConcat2(acc: Column, w: Column): Column =
    struct(
      pmod(pmod(acc.getField("h1") * 131 + 32, lit(HashMod1)) * w.getField("p1") +
        w.getField("h1"), lit(HashMod1)).as("h1"),
      pmod(pmod(acc.getField("h2") * 137 + 32, lit(HashMod2)) * w.getField("p2") +
        w.getField("h2"), lit(HashMod2)).as("h2"))
}
