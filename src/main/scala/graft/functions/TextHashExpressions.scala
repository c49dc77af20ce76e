package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the text-hash hot paths. The pure-column
 * formulations (per-char `aggregate` folds in [[graft.text.TextOps]]) are
 * the semantic reference and stay as the oracle-shared definition, but
 * Catalyst interprets higher-order-function lambdas — one expression-tree
 * walk per character is the measured cost center of MinHash/SimHash/
 * fingerprinting at corpus scale. These expressions compute the identical
 * values in a tight JVM loop, and generate real code — the corpus-scan
 * projection stays inside whole-stage codegen (interpreted eval and the
 * generated call share one kernel method, so the paths cannot diverge).
 *
 * Exactness contract (pinned by DedupSpec's identity tests over nasty
 * strings): Spark's `trim` strips ASCII spaces only → `UTF8String.trim`;
 * `lower` → `UTF8String.toLowerCase` (same call the builtin makes);
 * `split(s, re)` has exact Java `Pattern.split(s, -1)` semantics INCLUDING
 * the empty input → [""] case (show() renders [""] as [] — do not be
 * fooled twice); `split(w, '')` is code-point-aware and `ascii` of a
 * single-code-point string is the code point — so iterating code points
 * replicates the columnar fold exactly.
 */
object TextHash {
  val P1: Long = 1000000007L
  val P2: Long = 999999937L
  private val WS = java.util.regex.Pattern.compile("\\s+")

  def words(s: UTF8String): Array[String] =
    WS.split(s.trim().toLowerCase().toString, -1)

  /** (h1, h2, base1^len, base2^len) of one word's code points. */
  def hashWord(w: String): Array[Long] = {
    var h1 = 0L; var h2 = 0L; var p1 = 1L; var p2 = 1L
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      i += Character.charCount(cp)
      h1 = (h1 * 131 + cp) % P1
      h2 = (h2 * 137 + cp) % P2
      p1 = (p1 * 131) % P1
      p2 = (p2 * 137) % P2
    }
    Array(h1, h2, p1, p2)
  }

  /** Polynomial code-point hash of the raw string (no trim/lower/split) —
    * the [[graft.text.TextOps.polyHash]] fold. */
  def polyHash(s: UTF8String, base: Long, mod: Long): Long = {
    val t = s.toString
    var h = 0L
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      i += Character.charCount(cp)
      h = (h * base + cp) % mod
    }
    h
  }

  val stateType: StructType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false)))

  val pairType: StructType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
}

/** Per-word (h1, h2, p1, p2) states of a text — the native form of
  * `transform(split(lower(trim(text)), "\\s+"), polyHash2Pow)`, with
  * `polyHash2Pow` in the test tree's `graft.ColumnarReference`. Word order
  * and duplicates preserved (MinHash consumes these positionally). */
case class WordHashStates(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(TextHash.stateType, containsNull = false)
  override def prettyName: String = "word_hash_states"

  /** The one kernel both eval and generated code call. */
  def statesOf(u: UTF8String): GenericArrayData = {
    val ws = TextHash.words(u)
    val out = new Array[Any](ws.length)
    var i = 0
    while (i < ws.length) {
      val h = TextHash.hashWord(ws(i))
      out(i) = InternalRow(h(0), h(1), h(2), h(3))
      i += 1
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    statesOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordHashStates", this, "graft.functions.WordHashStates")
    defineCodeGen(ctx, ev, c => s"$ref.statesOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordHashStates =
    copy(child = newChild)
}

/** Distinct-word (h1, h2) hashes in first-occurrence order — the native
  * form of `transform(wordSet(text), polyHash2)`, with `polyHash2` in the
  * test tree's `graft.ColumnarReference` (filter empties, THEN
  * distinct by word string: two distinct words that hash-collide keep both
  * entries, exactly like the columnar/oracle definition). */
case class WordSetHashes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(TextHash.pairType, containsNull = false)
  override def prettyName: String = "word_set_hashes"

  /** The one kernel both eval and generated code call. */
  def setHashesOf(u: UTF8String): GenericArrayData = {
    val ws = TextHash.words(u)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < ws.length) {
      if (ws(i).nonEmpty) seen.add(ws(i))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      val h = TextHash.hashWord(it.next())
      out(j) = InternalRow(h(0), h(1))
      j += 1
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    setHashesOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSetHashes", this, "graft.functions.WordSetHashes")
    defineCodeGen(ctx, ev, c => s"$ref.setHashesOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordSetHashes =
    copy(child = newChild)
}

/** The k MinHash signature values of a text's word n-gram shingles, from an
  * ALREADY-MATERIALIZED [[WordHashStates]] array — the native form of
  * `minHashes(shingleHashesFromStates(states, n), k)`: window hashes
  * composed via the polynomial concatenation identity
  * ([[graft.text.TextOps.polyConcat2]]), each fed through the
  * Kirsch–Mitzenmacher double-hash family ([[graft.text.TextOps.seededHash]])
  * with a running min per family member. One JVM pass, O(words · (n + k))
  * long arithmetic — the columnar form walks the shingle array k times
  * through interpreted lambdas and was the measured LSH-build cost center.
  * Values are BIT-IDENTICAL to the columnar reference (DedupSpec-pinned):
  * identical window set (size < n yields the one short window, matching
  * `sequence(0, greatest(size-n, 0))` + short `slice`), identical mod-p
  * arithmetic (all operands non-negative, so `%` equals `pmod`). */
case class ShingleMinHashes(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  // k is only a loop bound (O(windows·k) work, k longs of state) — no
  // packing ties it to 64; the generous cap just guards absurd signatures
  require(n >= 1 && k >= 1 && k <= 4096, "shingle n >= 1, 1 <= k <= 4096")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_min_hashes"

  /** The one kernel both eval and generated code call. */
  def minHashesOf(arr: ArrayData): GenericArrayData = {
    import TextHash.{P1, P2}
    val size = arr.numElements()
    val h1 = new Array[Long](size); val h2 = new Array[Long](size)
    val p1 = new Array[Long](size); val p2 = new Array[Long](size)
    var i = 0
    while (i < size) {
      val st = arr.getStruct(i, 4)
      h1(i) = st.getLong(0); h2(i) = st.getLong(1)
      p1(i) = st.getLong(2); p2(i) = st.getLong(3)
      i += 1
    }
    // A caller-supplied EMPTY states array matches the columnar fallback:
    // one window whose null first element coalesces to (0, 0), so member s
    // of the family evaluates to s. (The word splitter never produces this
    // case — split("", re) = [""].)
    if (size == 0)
      return new GenericArrayData(Array.tabulate(k)(_.toLong))
    val mins = Array.fill(k)(Long.MaxValue)
    val lastStart = math.max(size - n, 0)
    i = 0
    while (i <= lastStart) {
      var a1 = h1(i); var a2 = h2(i)
      var j = i + 1
      val end = math.min(i + n, size)
      while (j < end) {
        a1 = (((a1 * 131 + 32) % P1) * p1(j) + h1(j)) % P1
        a2 = (((a2 * 137 + 32) % P2) * p2(j) + h2(j)) % P2
        j += 1
      }
      var s = 0
      while (s < k) {
        val v = ((s + 1).toLong * a1 + (s.toLong * s + 1) * a2 + s) % P1
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  protected override def nullSafeEval(input: Any): Any =
    minHashesOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleMinHashes", this, "graft.functions.ShingleMinHashes")
    defineCodeGen(ctx, ev, c => s"$ref.minHashesOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashes =
    copy(child = newChild)
}

/** Polynomial rolling hash of the raw character stream — the native form of
  * [[graft.text.TextOps.polyHash]] (and of `fingerprint64` at base 131 mod
  * p1). */
case class CharPolyHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {
  require(base > 0 && mod > 1 && mod < (1L << 31), "base/mod out of overflow-safe range")
  override def dataType: DataType = LongType
  override def prettyName: String = "char_poly_hash"

  /** The one kernel both eval and generated code call. */
  def hashOf(u: UTF8String): Long = TextHash.polyHash(u, base, mod)

  protected override def nullSafeEval(input: Any): Any =
    hashOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charPolyHash", this, "graft.functions.CharPolyHash")
    defineCodeGen(ctx, ev, c => s"$ref.hashOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CharPolyHash =
    copy(child = newChild)
}
