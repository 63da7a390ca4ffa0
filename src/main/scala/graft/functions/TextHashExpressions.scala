package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit string hash used by the sketch expressions: FNV-1a over the
  * UTF-8 bytes followed by a murmur3-style finalizer for avalanche.
  * Any well-mixed 64-bit family works for MinHash/SimHash; this one is
  * dependency-free and identical on every JVM. */
private[functions] object Hash64 {
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    // fmix64
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}

private[functions] trait StringArrayInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.catalogString}")
  }
}

/** ONE-PERMUTATION MinHash signature computed straight from the token
  * array (Li, Owen & Zhang 2012; densification per Shrivastava & Li
  * 2014). Two costs vanish relative to the classic shingle-string
  * pipeline (one strong hash per shingle string, then NumHashes affine
  * permutations of it):
  *  - shingle strings never materialize: each token hashes ONCE and a
  *    word n-gram's hash is an order-sensitive O(n) combine of the
  *    token hashes (the interpreted wordShingles transform+concat_ws
  *    chain is a CodegenFallback HOF, measured dominant at sf1);
  *  - the 64 affine permutation passes per shingle collapse to ONE
  *    hash + ONE bucket-min update: the 64-bit gram hash's top 32 bits
  *    range-map onto a signature slot and the low 58 bits compete for
  *    its minimum.
  * Empty slots densify by ROTATION: slot k borrows the value of the
  * next non-empty slot at distance d, translated by d·C — both sides
  * of a pair densify identically, so P(slot equality) stays the
  * Jaccard similarity (the Shrivastava-Li estimator) and LSH banding
  * over the signature keeps the same (1/b)^(1/r) S-curve. Distinct
  * gram semantics are free: MinHash is idempotent under duplicates.
  * The all-pairs CORRECTNESS oracle gates recall at 0.8 on every
  * corpus (sf0.01 and sf1), so a recall regression from the signature
  * change cannot pass silently.
  *
  * `slots` parameterizes the signature WIDTH so LSH band geometry can
  * widen with corpus count ([[graft.operators.Dedup.autoGeometry]] —
  * the text-side analog of the embedding autoBitsPerBand discipline;
  * production multi-billion-doc dedups run hundreds to thousands of
  * slots, e.g. RefinedWeb's 9000). Slot assignment is the multiply-high
  * range map floor(top32 · slots / 2^32) — uniform for any slots and
  * BIT-IDENTICAL to the original top-6-bits scheme at slots=64 (the
  * gate-scale geometry), so existing signatures never move; the gram
  * hash loop is slot-count-independent (cost O(grams + slots)). */
case class MinHashGramSignature(child: Expression, n: Int,
    slots: Int = MinHashGramSignature.NumHashes)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")
  require(slots >= 1 && slots <= 65536, s"slots out of range: $slots")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_gram_sig"

  def compute(input: ArrayData): ArrayData = {
    val m = input.numElements()
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      th(i) = Hash64.hash(WordGramDigests.tokenAt(input, i, prettyName))
      i += 1
    }
    val g = math.max(m - n + 1, 1)
    val mins = Array.fill(slots)(Long.MaxValue)
    var j = 0
    while (j < g) {
      // order-sensitive combine of the n token hashes + fmix avalanche
      var h = 0x9E3779B97F4A7C15L
      val end = math.min(j + n, m)
      var k = j
      while (k < end) {
        h = java.lang.Long.rotateLeft((h ^ th(k)) * 0x100000001b3L, 27)
        k += 1
      }
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      // multiply-high range map: slots=64 reduces to (h >>> 58) exactly
      val b = (((h >>> 32) * slots) >>> 32).toInt
      val v = h & 0x03FFFFFFFFFFFFFFL
      if (v < mins(b)) mins(b) = v
      j += 1
    }
    // rotation densification: g >= 1 guarantees at least one occupied
    // slot, so the borrow scan always terminates
    val out = new Array[Long](slots)
    var b = 0
    while (b < slots) {
      if (mins(b) != Long.MaxValue) out(b) = mins(b)
      else {
        var d = 1
        while (mins((b + d) % slots) == Long.MaxValue) d += 1
        out(b) = mins((b + d) % slots) + d.toLong * 0x100000001L
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashGramExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashGramSignature = copy(child = newChild)
}

object MinHashGramSignature {
  /** Default signature width: the gate-scale 64 slots. */
  val NumHashes = 64
}

/** Codepoint-polynomial hashes shared by the ORACLE-REPLAYABLE sketch
  * faces ([[PolySimHash]], [[PolyFingerprint]]): h = fold over code
  * points of (acc·B + cp) mod p. Pure BIGINT arithmetic any SQL engine
  * evaluates identically (DuckDB: `list_reduce(list_prepend(0, codes),
  * (acc, x) -> (acc*B + x) % p)`), unlike the UTF-8-byte FNV+fmix
  * family above, which only the JVM computes. acc < p ≤ 2³⁰ and
  * cp ≤ 0x10FFFF keep every intermediate far inside signed-64 range —
  * no overflow semantics to disagree on. */
private[functions] object PolyHash {
  val B1 = 31L;  val P1 = 1000000007L
  val B2 = 37L;  val P2 = 998244353L
  // simhash folds start from a large seed so even 1–2-char tokens wrap
  // mod p on the first step — an unseeded fold leaves short tokens with
  // tiny hashes whose high bits are constant 0, which collapses the
  // majority vote for those bits (observed 371 hamming<=3 pairs over
  // 500 docs vs ~15 with well-spread bits)
  val S1 = 888888883L   // < P1
  val S2 = 777777777L   // < P2

  /** Code points of s, in order (surrogate-pair correct). */
  def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0; var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp; j += 1
      i += Character.charCount(cp)
    }
    out
  }

  def hash(cps: Array[Int], from: Int, until: Int, b: Long, p: Long,
      seed: Long = 0L): Long = {
    var h = seed; var i = from
    while (i < until) { h = (h * b + cps(i)) % p; i += 1 }
    h
  }
}

/** Seeded polynomial digest of a string's code points: h = fold
  * (acc·31 + cp) mod 1000000007 from seed 888888883 ([[PolyHash]]'s
  * B1/P1/S1, surrogate-pair-correct code points). Exact integer SQL
  * replays it (LIST_REDUCE over UNICODE code points), which is the
  * point: an order-independent fold of row digests (BIT_XOR / SUM —
  * digests are < 2^30, so even billion-row SUMs stay far from int64
  * overflow) becomes a table-content fingerprint BOTH engines agree
  * on bit-for-bit — the migration-validation primitive. One primitive
  * pass per row, codegen'd, no allocation beyond the codepoint
  * array. */
case class PolyDigest(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_digest"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  def compute(s: UTF8String): Long = {
    import PolyHash._
    val cps = codePoints(s)
    hash(cps, 0, cps.length, B1, P1, S1)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyDigestExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PolyDigest =
    copy(child = newChild)
}

/** WIDE seeded polynomial digest: BOTH [[PolyHash]] folds packed into
  * one 64-bit value, h1·P2 + h2 with h1 = fold (acc·31 + cp) mod
  * 1000000007 from seed 888888883 and h2 = fold (acc·37 + cp) mod
  * 998244353 from seed 777777777. Still exact-integer SQL (two
  * LIST_REDUCE folds and one multiply-add; max value (P1−1)·P2 +
  * (P2−1) ≈ 9.98·10¹⁷ < 2⁶³), but the keyspace is P1·P2 ≈ 2^59.8 —
  * the 50% birthday bound moves from ~37k distinct keys (a single
  * mod-10⁹ fold — crossed by any sf1+ segment census) to ~1.2·10⁹.
  * This is the digest the dedup-family GROUP/JOIN keys use; the
  * narrow [[PolyDigest]] remains for checksum folds whose SUMs must
  * stay far below int64. Production corpora above ~10⁹ distinct
  * segments/grams should key on xxhash64 (2⁶⁴) and keep this digest
  * for the oracle-gated faces — the documented size bound. */
case class PolyDigest2(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_digest2"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  def compute(s: UTF8String): Long = {
    import PolyHash._
    val cps = codePoints(s)
    hash(cps, 0, cps.length, B1, P1, S1) * P2 +
      hash(cps, 0, cps.length, B2, P2, S2)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyDigest2Expr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PolyDigest2 =
    copy(child = newChild)
}

/** Distinct word n-gram digests over a token array, without EVER
  * building a gram string: element i of the result is
  * poly_digest(concat_ws(" ", slice(tokens, i, n))) — bit-identical to
  * composing those built-ins (FunctionsSpec asserts it) — but computed
  * from per-token polynomial hashes with a modular fold, so a 13-word
  * gram costs ~26 multiply-mods instead of a ~90-byte string
  * allocation + copy + re-hash. The gram families (decontamination,
  * substring-duplication, n-gram novelty) explode these digests
  * straight into their exchanges: 8 B/gram leaves the row, the gram
  * text never exists anywhere. Digests are first-occurrence distinct
  * per document (the wordShingles contract — shingle SETS, not bags).
  *
  * The identity used: folding a seed S through a word w of L code
  * points equals (S·B^L + poly0(w)) mod p, so each gram is a chain of
  * per-word (h_k = poly0(t_k), pw_k = B^len_k) pairs with a single
  * space step between words — O(total chars) token hashing + O(n) per
  * gram. Positions run 1..max(m−n+1, 1): a document shorter than n
  * words contributes its single truncated whole-document gram, an
  * empty one the digest of "" (= the seed) — both exactly the
  * wordShingles/slice clipping. NULL token elements fail loudly with
  * a descriptive error: the callers feed split() output, which never
  * contains NULL, and concat_ws's silent null-skipping is deliberately
  * NOT replicated — a null here means a broken upstream projection,
  * not absent data. */
case class WordGramDigests(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "word_gram_digests"

  def compute(input: ArrayData): ArrayData = {
    import PolyHash._
    val m = input.numElements()
    val h = new Array[Long](m)
    val pw = new Array[Long](m)
    var k = 0
    while (k < m) {
      val cps = codePoints(WordGramDigests.tokenAt(input, k, prettyName))
      h(k) = hash(cps, 0, cps.length, B1, P1, 0L)
      var p = 1L; var i = 0
      while (i < cps.length) { p = p * B1 % P1; i += 1 }
      pw(k) = p
      k += 1
    }
    val g = math.max(m - n + 1, 1)
    // first-occurrence distinct via linear probing; digests are in
    // [0, P1) so -1 is a safe empty slot
    val slots = WordGramDigests.probeTable(g, prettyName)
    val cap = slots.length
    val out = new Array[Long](g)
    var nOut = 0
    var i = 0
    while (i < g) {
      var s = S1
      val end = math.min(i + n, m)
      var j = i
      while (j < end) {
        s = (s * pw(j) + h(j)) % P1
        if (j < end - 1) s = (s * B1 + 32L) % P1 // the joining space
        j += 1
      }
      var slot = ((s * 0x9E3779B97F4A7C15L) >>> (64 - java.lang.Long
        .numberOfTrailingZeros(cap))).toInt
      var seen = false
      while (slots(slot) != -1L && !seen) {
        if (slots(slot) == s) seen = true
        else slot = (slot + 1) & (cap - 1)
      }
      if (!seen) {
        slots(slot) = s
        out(nOut) = s; nOut += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGramDigestsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramDigests =
    copy(child = newChild)
}

object WordGramDigests {
  /** Token accessor failing LOUDLY on NULL elements — getUTF8String
    * returns null there, which previously surfaced as an executor NPE
    * deep inside the fold. */
  private[functions] def tokenAt(input: ArrayData, k: Int,
      fn: String): UTF8String = {
    val tok = input.getUTF8String(k)
    if (tok == null) throw new IllegalArgumentException(
      s"$fn: NULL token at position $k — token arrays must be " +
        "null-free (split() output); a null indicates a broken " +
        "upstream projection, not absent data")
    tok
  }

  /** Power-of-two linear-probe table sized 2·g, computed in LONG
    * arithmetic: the previous `while (cap < g * 2) cap <<= 1` Int loop
    * overflowed (looping forever) past 2³⁰ grams. Sizes above 2²⁹
    * grams (a half-billion-word single row) fail loudly instead. */
  private[functions] def probeTable(g: Int, fn: String): Array[Long] = {
    if (g > (1 << 29)) throw new IllegalArgumentException(
      s"$fn: $g grams in one row exceeds the 2^29 probe capacity — " +
        "split the document upstream")
    var cap = 8L
    while (cap < g.toLong * 2) cap <<= 1
    val slots = new Array[Long](cap.toInt)
    java.util.Arrays.fill(slots, -1L)
    slots
  }
}

/** BAG variant of [[WordGramDigests]]: one digest per gram POSITION
  * (no distinctness) — element i is exactly
  * poly_digest(concat_ws(" ", slice(tokens, i, n))). The n-gram
  * NOVELTY census needs occurrence counts (a within-doc repeat is by
  * definition non-novel), so the set-semantics face doesn't apply;
  * the previous formulation built every gram STRING through an
  * interpreted transform∘concat_ws∘slice chain, the dominant cost of
  * that key at sf1. Same per-word chain identity, clipping and
  * null-token contract as the distinct face; the narrow mod-1e9
  * digest is deliberate — the novelty oracle replays this exact
  * fold. */
case class WordGramDigestsBag(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "word_gram_digests_bag"

  def compute(input: ArrayData): ArrayData = {
    import PolyHash._
    val m = input.numElements()
    val h = new Array[Long](m)
    val pw = new Array[Long](m)
    var k = 0
    while (k < m) {
      val cps = codePoints(WordGramDigests.tokenAt(input, k, prettyName))
      h(k) = hash(cps, 0, cps.length, B1, P1, 0L)
      var p = 1L; var i = 0
      while (i < cps.length) { p = p * B1 % P1; i += 1 }
      pw(k) = p
      k += 1
    }
    val g = math.max(m - n + 1, 1)
    val out = new Array[Long](g)
    var i = 0
    while (i < g) {
      var s = S1
      val end = math.min(i + n, m)
      var j = i
      while (j < end) {
        s = (s * pw(j) + h(j)) % P1
        if (j < end - 1) s = (s * B1 + 32L) % P1 // the joining space
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGramDigestsBagExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordGramDigestsBag = copy(child = newChild)
}

/** WIDE + POSITIONAL variant: element i is exactly
  * poly_digest2(concat_ws(" ", slice(tokens, i, n))) — one packed
  * dual digest per gram POSITION, no distinctness. The span-removal
  * census ([[graft.operators.Dedup.spanRemoval]]) needs BOTH the
  * position (an anchor is a gram OCCURRENCE that is not the corpus's
  * first) and the census-grade ~2^59.8 keyspace: a narrow mod-10⁹
  * digest crosses its birthday bound at ~37k grams, and here a false
  * merge doesn't just miscount — it REMOVES innocent text. Same
  * per-word chain identity, clipping and null-token contract as the
  * sibling faces; the oracle replays both folds. */
case class WordGramDigestsBag2(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "word_gram_digests_bag2"

  def compute(input: ArrayData): ArrayData = {
    import PolyHash._
    val m = input.numElements()
    val h1 = new Array[Long](m); val pw1 = new Array[Long](m)
    val h2 = new Array[Long](m); val pw2 = new Array[Long](m)
    var k = 0
    while (k < m) {
      val cps = codePoints(WordGramDigests.tokenAt(input, k, prettyName))
      h1(k) = hash(cps, 0, cps.length, B1, P1, 0L)
      h2(k) = hash(cps, 0, cps.length, B2, P2, 0L)
      var p1 = 1L; var p2 = 1L; var i = 0
      while (i < cps.length) { p1 = p1 * B1 % P1; p2 = p2 * B2 % P2; i += 1 }
      pw1(k) = p1; pw2(k) = p2
      k += 1
    }
    val g = math.max(m - n + 1, 1)
    val out = new Array[Long](g)
    var i = 0
    while (i < g) {
      var s1 = S1; var s2 = S2
      val end = math.min(i + n, m)
      var j = i
      while (j < end) {
        s1 = (s1 * pw1(j) + h1(j)) % P1
        s2 = (s2 * pw2(j) + h2(j)) % P2
        if (j < end - 1) { // the joining space
          s1 = (s1 * B1 + 32L) % P1
          s2 = (s2 * B2 + 32L) % P2
        }
        j += 1
      }
      out(i) = s1 * P2 + s2
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGramDigestsBag2Expr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordGramDigestsBag2 = copy(child = newChild)
}

/** WIDE variant of [[WordGramDigests]]: element i is
  * poly_digest2(concat_ws(" ", slice(tokens, i, n))) — BOTH
  * [[PolyHash]] fold chains run per gram and pack as h1·P2 + h2 (the
  * [[PolyDigest2]] layout, keyspace P1·P2 ≈ 2^59.8). This is the gram
  * key the dedup family joins/groups on: a single mod-10⁹ fold
  * crosses its 50% birthday bound at ~37k distinct grams — reached by
  * ANY sf1+ corpus census — where the packed pair holds it out to
  * ~1.2·10⁹. Same per-word chain identity, clipping, first-occurrence
  * distinctness, and null-element contract as the narrow face; the
  * oracle replays both folds with two LIST_REDUCEs and one
  * multiply-add. */
case class WordGramDigests2(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "word_gram_digests2"

  def compute(input: ArrayData): ArrayData = {
    import PolyHash._
    val m = input.numElements()
    val h1 = new Array[Long](m); val pw1 = new Array[Long](m)
    val h2 = new Array[Long](m); val pw2 = new Array[Long](m)
    var k = 0
    while (k < m) {
      val cps = codePoints(WordGramDigests.tokenAt(input, k, prettyName))
      h1(k) = hash(cps, 0, cps.length, B1, P1, 0L)
      h2(k) = hash(cps, 0, cps.length, B2, P2, 0L)
      var p1 = 1L; var p2 = 1L; var i = 0
      while (i < cps.length) { p1 = p1 * B1 % P1; p2 = p2 * B2 % P2; i += 1 }
      pw1(k) = p1; pw2(k) = p2
      k += 1
    }
    val g = math.max(m - n + 1, 1)
    // packed digests are in [0, P1·P2) so -1 stays a safe empty slot
    val slots = WordGramDigests.probeTable(g, prettyName)
    val cap = slots.length
    val out = new Array[Long](g)
    var nOut = 0
    var i = 0
    while (i < g) {
      var s1 = S1; var s2 = S2
      val end = math.min(i + n, m)
      var j = i
      while (j < end) {
        s1 = (s1 * pw1(j) + h1(j)) % P1
        s2 = (s2 * pw2(j) + h2(j)) % P2
        if (j < end - 1) { // the joining space
          s1 = (s1 * B1 + 32L) % P1
          s2 = (s2 * B2 + 32L) % P2
        }
        j += 1
      }
      val s = s1 * P2 + s2
      var slot = ((s * 0x9E3779B97F4A7C15L) >>> (64 - java.lang.Long
        .numberOfTrailingZeros(cap))).toInt
      var seen = false
      while (slots(slot) != -1L && !seen) {
        if (slots(slot) == s) seen = true
        else slot = (slot + 1) & (cap - 1)
      }
      if (!seen) {
        slots(slot) = s
        out(nOut) = s; nOut += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGramDigests2Expr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramDigests2 =
    copy(child = newChild)
}

/** The C4-style normalization chain in ONE code-point pass —
  * bit-identical to `lower(trim(regexp_replace(regexp_replace(s,
  * "[^A-Za-z0-9 ]", ""), " +", " ")))` (FunctionsSpec asserts it over
  * unicode-space/tab/non-BMP edges): strip every code point outside
  * [A-Za-z0-9 ], squeeze ASCII-space runs, trim leading/trailing
  * spaces, lowercase A-Z. The equivalence is exact BECAUSE the strip
  * runs first — after it the alphabet is pure ASCII, so the regex
  * quantifier, trim and lower have no locale/unicode edge left to
  * disagree on. Two interpreted regex passes over every document were
  * the whole cost of the normalized-dedup key at sf1. */
case class AsciiNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "ascii_normalize"

  def compute(input: UTF8String): UTF8String = {
    val bytes = input.getBytes
    val out = new Array[Byte](bytes.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      // multi-byte UTF-8 sequences are never in [A-Za-z0-9 ]: skip
      val keepAlnum = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
        (b >= 'A' && b <= 'Z')
      if (keepAlnum) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        n += 1
      } else if (b == ' ') {
        pendingSpace = true // emitted only if a kept char follows (trim+squeeze)
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("asciiNormalizeExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): AsciiNormalize =
    copy(child = newChild)
}

/** First-occurrence-distinct word n-gram SHINGLE STRINGS over a token
  * array — bit-identical to `array_distinct(transform(sequence(1,
  * greatest(size(toks)-n+1, 1)), i -> concat_ws(' ', slice(toks, i,
  * n))))` (FunctionsSpec asserts it), but in one primitive pass: that
  * composition is a CodegenFallback higher-order-function chain whose
  * interpreted lambda re-allocates per position, and it sits on the
  * near-dup VERIFY path (exact Jaccard over candidate documents),
  * where it was the dominant remaining cost at sf1. NULL tokens fail
  * loudly (split() output is never null); an empty token array yields
  * the single empty shingle, exactly the composed form. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n >= 1 && n <= 64, s"gram width out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_shingles"

  def compute(input: ArrayData): ArrayData = {
    val m = input.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = WordGramDigests.tokenAt(input, i, prettyName)
      i += 1
    }
    val g = math.max(m - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var j = 0
    while (j < g) {
      val end = math.min(j + n, m)
      var s = if (j < end) toks(j) else UTF8String.EMPTY_UTF8
      var k = j + 1
      while (k < end) { s = UTF8String.concat(s, space, toks(k)); k += 1 }
      seen.add(s)
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShinglesExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** First-occurrence-distinct character n-gram strings — bit-identical
  * to `array_distinct(transform(sequence(1, greatest(length(s)-n+1,
  * 1)), i -> substring(s, i, n)))` but one primitive pass over the
  * CODE POINTS (Spark's substring counts code points, not bytes, so
  * the window walk tracks code-point boundaries in the UTF-8 bytes).
  * The char-5-gram near-dup verify face was the remaining interpreted
  * HOF on the dedup hot path. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1 && n <= 1024, s"gram width out of range: $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "char_shingles"

  def compute(input: UTF8String): ArrayData = {
    val total = input.numChars()
    val g = math.max(total - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var j = 0
    while (j < g) {
      seen.add(input.substring(j, math.min(j + n, total)))
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charShinglesExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** 60-bit SimHash whose token hashes are the two [[PolyHash]]
  * polynomials (bits 0–29 from B=31 mod 1000000007, bits 30–59 from
  * B=37 mod 998244353): bit i is set iff strictly more than half the
  * token occurrences have bit i set in the corresponding token hash
  * (2·c > n; ties clear the bit). Same ±1-vote semantics as
  * [[SimHash64]], but every step is exact integer SQL — DuckDB
  * recomputes the identical signature, so the near-dup PAIR SET can be
  * hash-gated against an all-pairs oracle instead of rows-only. The
  * 64-bit face remains the production sketch (denser bits); this is
  * the correctness face. */
case class PolySimHash(child: Expression)
    extends UnaryExpression with StringArrayInput {

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_simhash"

  def compute(input: ArrayData): Long = {
    import PolyHash._
    val counts = new Array[Int](60)
    val n = input.numElements()
    var j = 0
    while (j < n) {
      val cps = codePoints(input.getUTF8String(j))
      val h1 = hash(cps, 0, cps.length, B1, P1, S1)
      val h2 = hash(cps, 0, cps.length, B2, P2, S2)
      var i = 0
      while (i < 30) {
        counts(i) += ((h1 >>> i) & 1L).toInt
        counts(i + 30) += ((h2 >>> i) & 1L).toInt
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 60) { if (2 * counts(i) > n) out |= (1L << i); i += 1 }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polySimhashExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PolySimHash =
    copy(child = newChild)
}

/** Winnowed fingerprint over [[PolyHash]] k-gram hashes (SURVEY §4's
  * RollingHash), oracle-replayable: gram i hashes the CHARACTER
  * (code point) window [i, i+k) with the B=31 mod-1000000007
  * polynomial (no mixing — the raw mod-p value IS the fingerprint, so
  * DuckDB reproduces it from substr + list_reduce), window-min per
  * sliding window of w grams, distinct + sorted. Rolling O(1) update
  * per gram with modular subtract (add p·B before subtracting to stay
  * non-negative); a document shorter than k grams contributes its
  * single whole-string hash, shorter than w windows a single
  * whole-range min. One pass per row replaces an interpreted HOF
  * chain of substr/hash/slice/array_min. */
case class PolyFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "poly_fingerprint"

  import PolyHash.{B1, P1}

  // B^(k-1) mod p, for the rolling window subtract
  private lazy val basePowK: Long = {
    var pow = 1L; var i = 0
    while (i < k - 1) { pow = (pow * B1) % P1; i += 1 }
    pow
  }

  def compute(input: UTF8String): ArrayData = {
    val cps = PolyHash.codePoints(input)
    val n = cps.length
    val nGrams = math.max(n - k + 1, 1)
    val gramHashes = new Array[Long](nGrams)
    if (n < k) {
      gramHashes(0) = PolyHash.hash(cps, 0, n, B1, P1)
    } else {
      var h = PolyHash.hash(cps, 0, k, B1, P1)
      gramHashes(0) = h
      var i = k
      while (i < n) {
        // (h - cp_out·B^(k-1))·B + cp_in  (mod p), kept non-negative
        h = ((h + P1 - (cps(i - k) * basePowK) % P1) % P1 * B1 + cps(i)) % P1
        gramHashes(i - k + 1) = h
        i += 1
      }
    }
    val nWin = math.max(nGrams - w + 1, 1)
    val winnowed = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j < nWin) {
      var m = Long.MaxValue
      var t = j
      val end = math.min(j + w, nGrams)
      while (t < end) { if (gramHashes(t) < m) m = gramHashes(t); t += 1 }
      winnowed.add(m)
      j += 1
    }
    val out = new Array[Long](winnowed.size())
    val it = winnowed.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polyFingerprintExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

/** Native 64-bit SimHash over a token array (SURVEY §4's SimHash64):
  * hash each token once, accumulate ±1 per bit, sign → bit. ~n·64
  * primitive ops per row vs the doubly-nested interpreted aggregate
  * (which also re-hashed every token per bit). */
case class SimHash64(child: Expression)
    extends UnaryExpression with StringArrayInput {

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  def compute(input: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = input.numElements()
    var j = 0
    while (j < n) {
      val h = Hash64.hash(input.getUTF8String(j))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Shannon entropy (nats) of a symbol multiset: H = ln n − (Σ c·ln c)/n
  * over per-symbol counts c, in ONE O(n) hash-count pass per row.
  *
  * Input is either a STRING (symbols = its Unicode code points —
  * surrogate-pair correct, the char_entropy face) or an ARRAY<STRING>
  * (symbols = its elements — the word_entropy face). The primitive
  * counting loop replaces the declarative sort + run-length-fold
  * pipeline, whose interpreted HOF lambdas and comparator measured
  * 2.4 s at sf0.1 against ~0.4 s for this expression; like the other
  * sketch expressions, per-row compute with no shuffle. Empty input
  * → 0.0 by definition; NULL array elements are SKIPPED (absent data,
  * not a symbol — entropy_nats(array('a', NULL)) = 0.0, same as a
  * one-symbol multiset). The count-map iteration order affects only
  * the ±1-ulp tail of the double sum, which callers round away (the
  * oracle recomputes relationally at 6 decimals). */
case class SymbolEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def prettyName: String = "entropy_nats"

  @transient private lazy val overString = child.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string or array<string>, got ${other.catalogString}")
  }

  def compute(input: Any): Double = {
    val counts = new java.util.HashMap[Any, Long]()
    var n = 0L
    if (overString) {
      val s = input.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.merge(Integer.valueOf(cp), 1L, java.lang.Long.sum _)
        n += 1
        i += Character.charCount(cp)
      }
    } else {
      val a = input.asInstanceOf[ArrayData]
      val m = a.numElements()
      var i = 0
      while (i < m) {
        // NULL elements are absent data, not a symbol: skip them
        // (counting them would hand the HashMap a null key and give
        // entropy_nats(array('a', NULL)) undocumented semantics)
        if (!a.isNullAt(i)) {
          counts.merge(a.getUTF8String(i), 1L, java.lang.Long.sum _)
          n += 1
        }
        i += 1
      }
    }
    if (n == 0L) return 0.0
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      s += c * math.log(c)
    }
    math.log(n.toDouble) - s / n
  }

  override protected def nullSafeEval(input: Any): Any = compute(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("symbolEntropyExpr", this)
    // compute returns a PRIMITIVE double (the Scala `Double` return
    // compiles unboxed), so the generated assignment needs no cast —
    // the earlier `(double) Object` cast failed janino compilation and
    // silently dropped every entropy expression to interpreted eval
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SymbolEntropy =
    copy(child = newChild)
}

/** Single-pass readability counts — words, [.!?]-run sentences,
  * [aeiouyAEIOUY]-run syllable groups — over one code-point walk per
  * row, replacing three interpreted lower+regexp_replace passes (the
  * regex formulation measured ~10× at 10× data = LINEAR with a large
  * constant; this pass is the entropy_nats fix applied to
  * readability). Word count = 1 + count(' ') — EXACTLY Spark's
  * split(text, " ") length, trailing empties included — and the run
  * counts match the `[class]+`-collapse regex definition char for
  * char, so the SQL oracle keeps its regex replay and the hash proves
  * the equivalence. The CALLER passes lower(text) (the engine's own
  * lowercasing, exactly as the regex face did), so only lowercase
  * class members are tracked here and locale-edge lowercasing (e.g.
  * U+0130 expanding to i + combining dot) behaves identically to the
  * proven regex formulation. Run state is per-BMP-code-unit on
  * purpose: the tracked classes are all ASCII, so surrogate pairs can
  * never split or join a run. */
case class ReadabilityCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_words", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_sent_runs", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_syllables", LongType,
        nullable = false)))

  override def prettyName: String = "readability_counts"

  def compute(s: UTF8String): Any = {
    val str = s.toString
    var words = 1L
    var sent = 0L
    var syl = 0L
    var inSent = false
    var inVowel = false
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == ' ') words += 1
      val isSent = c == '.' || c == '!' || c == '?'
      if (isSent && !inSent) sent += 1
      inSent = isSent
      val isVowel = c match {
        case 'a' | 'e' | 'i' | 'o' | 'u' | 'y' => true
        case _ => false
      }
      if (isVowel && !inVowel) syl += 1
      inVowel = isVowel
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words, sent, syl))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("readabilityExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
         |  $ref.compute($c);""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ReadabilityCounts = copy(child = newChild)
}
