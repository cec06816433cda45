package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Exact int64 dot product over two `array<bigint>` columns — the hot kernel
  * of every vector-similarity operator (SURVEY.md §7.3: custom Catalyst
  * `Expression` when higher-order built-ins prove slow).
  *
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` evaluates its lambda through
  * the interpreter once per element — ~130M lambda invocations for the
  * sf0.1 all-pairs near-dup scan (61s). This expression compiles to a tight
  * primitive loop inside whole-stage codegen (same scan: ~3s) and keeps the
  * exact integer semantics the cross-engine oracles rely on.
  */
case class LongArrayDot(left: Expression, right: Expression)
  extends BinaryExpression {

  // inputs are always array<bigint> at the (internal) call sites; Spark's
  // AbstractDataType/ExpectsInputTypes surface is private[sql], so input
  // validation stays the caller's contract
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayDot =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** THE single registry of graft functions: (name, implementing class,
    * builder). Both registration paths — per-query [[register]] and the
    * session-extensions [[GraftExtensions]] — iterate this one list, so a
    * function added here is automatically available through both and the
    * two paths cannot drift.
    *
    * The sketch aggregates return bare AggregateFunctions: the analyzer
    * wraps them in an AggregateExpression during resolution.
    * `bloom_agg`/`bloom_might_contain` surface Spark's own runtime-join-
    * filter sketch pair (the expressions the InjectRuntimeFilter rule
    * plants) as callable functions so a query can build/apply an EXPLICIT
    * semi-join bloom filter — see ScalePatterns.bloomPrunedJoin. Signatures
    * follow the optimizer rule's usage: the aggregate ingests
    * xxhash64(key) longs, might_contain probes the serialized sketch with
    * the same hash.
    */
  private type Builder = Seq[Expression] => Expression
  val builders: Seq[(String, Class[_], Builder)] = Seq(
    ("vec_dot_long", classOf[LongArrayDot],
      (exprs: Seq[Expression]) => LongArrayDot(exprs(0), exprs(1))),
    ("shingle_hashes_5", classOf[ShingleHashes],
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 5)),
    ("minhash_sig_5_32", classOf[MinHashSignature],
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head, 5, 32)),
    ("simhash60", classOf[SimHash60],
      (exprs: Seq[Expression]) => SimHash60(exprs.head)),
    ("shingle_hashes_2", classOf[ShingleHashes],
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 2)),
    ("shingle_hashes_3", classOf[ShingleHashes],
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 3)),
    ("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate],
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))),
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain],
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))),
    ("cdc_boundaries_8_64", classOf[CdcBoundaries],
      (exprs: Seq[Expression]) => CdcBoundaries(exprs.head)),
    ("nfc_normalize", classOf[NfcNormalize],
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)),
    ("ascii_words", classOf[AsciiWords],
      (exprs: Seq[Expression]) => AsciiWords(exprs.head)),
    ("ascii_word_pairs", classOf[AsciiWordPairs],
      (exprs: Seq[Expression]) => AsciiWordPairs(exprs.head)),
    ("block_cosines_16", classOf[BlockCosines],
      (exprs: Seq[Expression]) => BlockCosines(exprs.head, 16)),
    ("cms_sketch_2048", classOf[CmsSketchAgg],
      (exprs: Seq[Expression]) => CmsSketchAgg(exprs(0), exprs(1))),
    ("cms_merge_2048", classOf[CmsMergeAgg],
      (exprs: Seq[Expression]) => CmsMergeAgg(exprs.head)),
    ("cms_estimate", classOf[CmsEstimate],
      (exprs: Seq[Expression]) => CmsEstimate(exprs(0), exprs(1))),
    ("md5_prefix60", classOf[Md5Prefix],
      (exprs: Seq[Expression]) => Md5Prefix(exprs.head, 15)),
    ("md5_prefix48", classOf[Md5Prefix],
      (exprs: Seq[Expression]) => Md5Prefix(exprs.head, 12)))

  /** Idempotently register the custom expressions in the session's function
    * registry (usable from both the Column API via `expr` and plain SQL).
    * Registration is guarded by an existence check: unconditional
    * `createOrReplaceTempFunction` logs a `SimpleFunctionRegistry ...
    * replaced a previously registered function` WARN on every call, and ops
    * call `register` per query — across a 150-query bench that spam crowds
    * the bounded stdout tail the harness keeps.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Adjacent-block term-frequency cosines of a token array, one per-row
  * pass: split into `width`-token blocks, build each block's tf map, emit
  * the cosine between every consecutive block pair as `array<double>`
  * (element i = cosine(block i, block i+1); empty array for single-block
  * docs). Replaces the relational form's explode→(doc, block, token)
  * aggregate→adjacency join→norms join — ALL of whose work is
  * document-local, so shuffling it was pure overhead (measured 3.1s at
  * sf1 for the join form vs scan-speed here). Arithmetic is the engine
  * discipline: exact int64 dot/norms per pair, then ONE
  * IEEE sqrt·sqrt·division — bit-identical to the SQL oracle's grouped
  * form. CodegenFallback is fine: the win is per-token → per-row.
  */
case class BlockCosines(child: Expression, width: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def prettyName: String = "block_cosines"

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nb = if (n == 0) 0 else (n + width - 1) / width
    if (nb < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Double])
    // UTF8String keys: hashCode/equals are defined on the bytes and the
    // map lives only within this eval, so no per-token String decode
    type Tf = java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
      java.lang.Long]
    def tf(b: Int): Tf = {
      val m = new Tf()
      var i = b * width
      val hi = math.min(i + width, n)
      while (i < hi) {
        val k = arr.getUTF8String(i)
        val c = m.get(k)
        m.put(k, if (c == null) 1L else c + 1L)
        i += 1
      }
      m
    }
    def n2(m: Tf): Long = {
      var s = 0L
      val i2 = m.values().iterator()
      while (i2.hasNext) { val c = i2.next().longValue(); s += c * c }
      s
    }
    val out = new Array[Double](nb - 1)
    var prev = tf(0)
    var prevN2 = n2(prev) // each block's norm computed once, carried over
    var b = 1
    while (b < nb) {
      val cur = tf(b)
      val curN2 = n2(cur)
      var dot = 0L
      val it = prev.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = cur.get(e.getKey)
        if (c != null) dot += e.getValue.longValue() * c.longValue()
      }
      out(b - 1) = dot.toDouble / (math.sqrt(prevN2.toDouble) *
        math.sqrt(curN2.toDouble))
      prev = cur
      prevN2 = curN2
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): BlockCosines =
    copy(child = c)
}

/** Unicode NFC normalization (UAX #15 canonical composition) — the
  * canonical-equivalence trap of web corpora: "é" arrives both composed
  * (U+00E9) and decomposed (e + U+0301), byte-different but canonically
  * the SAME text, so hash-keyed exact dedup silently misses such pairs.
  * Spark ships no normalization function; this wraps
  * `java.text.Normalizer` (ICU-grade, same UAX #15 the oracle's DuckDB
  * `nfc_normalize` implements via utf8proc, so both engines agree on any
  * assigned codepoint). Fast path: `Normalizer.isNormalized` is O(n) with
  * no allocation, and real-world text is overwhelmingly already NFC, so
  * the common case returns the input UTF8String untouched.
  */
case class NfcNormalize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

/** 64-bit hashes of all word `width`-grams of a token array, in one
  * per-row loop: FNV-1a over each token's UTF-8 bytes, then a polynomial
  * combine across the window. Replaces the interpreted
  * `transform(sequence(...), i => concat_ws(slice(tokens, i, w)))` chain
  * (one lambda interpretation per shingle — the dominant cost of the
  * n-gram dedup pipeline at sf0.1) with a single expression evaluation per
  * document. CodegenFallback is fine here: the win is per-element → per-row.
  *
  * Shingle identity by 64-bit hash instead of string: collision odds over
  * ~1.4M distinct shingles ≈ 5e-8 (birthday/2^64).
  */
private[functions] object ShingleKernel {
  /** FNV-1a 64 per token, polynomial combine per `width`-gram. */
  def hashes(arr: ArrayData, width: Int): Array[Long] = {
    val n = arr.numElements()
    if (n < width) return Array.empty[Long]
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i).getBytes
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < s.length) { h ^= (s(k) & 0xffL); h *= 0x100000001b3L; k += 1 }
      th(i) = h
      i += 1
    }
    val out = new Array[Long](n - width + 1)
    var j = 0
    while (j <= n - width) {
      var h = 0L
      var k = 0
      while (k < width) { h = h * 1000003L + th(j + k); k += 1 }
      out(j) = h
      j += 1
    }
    out
  }
}

case class ShingleHashes(child: Expression, width: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleKernel.hashes(v.asInstanceOf[ArrayData], width))

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Complete MinHash signature in one pass: word `width`-gram FNV shingle
  * hashes, then for each of `k` permutations the minimum of a splitmix64
  * full-avalanche mix of (shingle ^ seed_i). Per-permutation avalanche is
  * what makes the k minima behave independently — deriving the family
  * affinely from one base hash collapses band independence (observed: a
  * j=0.875 pair missed at P[miss]≈8e-11 under ideal hashing). All wrapping
  * arithmetic lives in JVM code, outside ANSI-mode Column semantics.
  * Output values are masked to 61 bits (non-negative longs).
  */
case class MinHashSignature(child: Expression, width: Int, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  @inline private def mix(v: Long): Long = {
    var z = v
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^= z >>> 31
    z >>> 3 // 61-bit, non-negative
  }

  override protected def nullSafeEval(v: Any): Any = {
    val hs = ShingleKernel.hashes(v.asInstanceOf[ArrayData], width)
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var i = 0
      while (i < k) {
        val m = mix(h + 0x9e3779b97f4a7c15L * (i + 1))
        if (m < sig(i)) sig(i) = m
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** Content-defined chunk boundaries of a binary payload — the shift-robust
  * chunking primitive under CDC dedup (`media_cdc_*`): a boundary closes at
  * 1-based position p (p ≥ 8) when the first byte of md5 over the 8-byte
  * window ending at p has its low 6 bits zero (P = 1/64 → ~64-byte mean
  * chunks), and the payload end always closes the final chunk. Boundaries
  * depend only on LOCAL bytes, so an insertion re-synchronizes after one
  * window and every later chunk digest still matches — the property
  * fixed-offset framing (`media_frame_sample`) structurally lacks. md5 is
  * the window hash because both engines compute it bit-identically (same
  * discipline as [[SimHash60]]); a production deployment swaps in an O(1)
  * rolling gear hash, which only changes WHERE boundaries fall, not the
  * operator shape. Output: sorted ascending array<long> of boundary end
  * positions (empty for an empty payload; [L] alone when L < 8).
  */
case class CdcBoundaries(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  // MessageDigest is not thread-safe; per-thread instances keep a shared
  // plan fragment safe to evaluate concurrently (driver-side eval).
  @transient private lazy val md5tl =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(v: Any): Any = {
    val md5 = md5tl.get()
    val bytes = v.asInstanceOf[Array[Byte]]
    val L = bytes.length
    if (L == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var p = 8
    while (p <= L) {
      // hash the window in place (update+digest resets the instance);
      // no per-position copy of the 8-byte slice
      md5.update(bytes, p - 8, 8)
      if ((md5.digest()(0) & 0x3f) == 0) out += p.toLong
      p += 1
    }
    if (out.isEmpty || out.last != L) out += L.toLong
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): CdcBoundaries =
    copy(child = c)
}

/** 60-bit SimHash signature of a (repeated) token array in one per-row
  * loop: per-token hash = the first 60 bits of md5 (identical to
  * `conv(substring(md5(t),1,15),16,10)` and DuckDB's
  * `CAST('0x'||substr(md5(t),1,15) AS BIGINT)` — the cross-engine-portable
  * hash the oracles use), ±1 vote per bit position, sign → bit. Replaces a
  * nested `aggregate(zip_with(transform(sequence(0,59),...)))` chain whose
  * lambdas interpret once per (token × bit) — the dominant cost of the
  * simhash pipeline; this is a tight JVM loop per document (per-row
  * CodegenFallback, so the cost stays per-row).
  */
case class SimHash60(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  // MessageDigest is not thread-safe; per-thread instances keep a shared
  // plan fragment safe to evaluate concurrently (driver-side eval).
  @transient private lazy val md5tl =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(v: Any): Any = {
    val md5 = md5tl.get()
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val d = md5.digest(arr.getUTF8String(i).getBytes)
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h = (h << 4) | ((d(7) & 0xffL) >>> 4)
      var k = 0
      while (k < 60) {
        votes(k) += (((h >>> k) & 1L).toInt << 1) - 1
        k += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 60) { if (votes(k) > 0) sig |= 1L << k; k += 1 }
    sig
  }

  override protected def withNewChildInternal(c: Expression): SimHash60 =
    copy(child = c)
}

/** First `nHex` hex digits of md5(string) as an unsigned long — the fused
  * scalar form of the cross-engine hash the sampling/dedup/curation
  * families key on: `conv(substring(md5(CAST(x AS STRING)), 1, nHex), 16,
  * 10) CAST LONG` (DuckDB: `CAST('0x'||substr(md5(x),1,nHex) AS BIGINT)`),
  * bit-identical by construction. The built-in chain materializes a
  * 32-char hex UTF8String, substrings it, then `conv` re-parses it digit
  * by digit into a DECIMAL STRING that a final cast parses AGAIN — four
  * string (de)allocations per row to extract bits the digest already
  * holds. This expression digests once and assembles the value from the
  * first ⌈nHex/2⌉ bytes in a fixed loop, and it participates in
  * whole-stage codegen via a static-call `defineCodeGen` (guide §4: no
  * interpreted hot-path expressions). `nHex ≤ 15` keeps the value inside
  * a non-negative long, exactly like the conv-based original.
  *
  * `nullable` is pinned `true` to match the old chain's schema (a cast's
  * nullability), so output schemas carrying the hash are byte-stable.
  */
case class Md5Prefix(child: Expression, nHex: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nHex > 0 && nHex <= 15, "nHex must fit a non-negative long")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = s"md5_prefix$nHex"

  override protected def nullSafeEval(v: Any): Any =
    Md5Prefix.prefix(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5Prefix.prefix($c, $nHex)")

  override protected def withNewChildInternal(c: Expression): Md5Prefix =
    copy(child = c)
}

object Md5Prefix {
  // MessageDigest is not thread-safe; per-thread instances keep a shared
  // plan fragment safe to evaluate concurrently (the SimHash60 discipline).
  private val md5tl =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Static entry for both interpreted eval and generated code. */
  def prefix(s: org.apache.spark.unsafe.types.UTF8String, nHex: Int): Long = {
    val d = md5tl.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }
}

/** Lowercase ASCII-letter tokens of a string in one fused pass — the
  * codegen form of the corpus tokenizer every text/search operator keys
  * on: `filter(split(lower(text), "[^a-z]+"), t => t <> "")` (DuckDB:
  * `list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')`).
  * Bit-identical by construction: lowercasing calls the SAME
  * `UTF8String.toLowerCase` kernel the built-in `lower` uses, and the
  * `[^a-z]+` split is a byte scan for maximal 0x61–0x7a runs — in UTF-8
  * every byte of a multi-byte codepoint is ≥ 0x80, so byte-level runs and
  * regex codepoint-level runs coincide exactly, with empty tokens never
  * emitted (the old chain's filter). The built-in chain walks the string
  * three times through two intermediate arrays and a per-token lambda
  * frame; this walks it once and participates in whole-stage codegen via
  * a static-call `defineCodeGen` (guide §4, the Md5Prefix discipline).
  * `containsNull = false` mirrors the old chain's type exactly.
  */
case class AsciiWords(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ascii_words"

  override protected def nullSafeEval(v: Any): Any =
    AsciiWords.words(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AsciiWords.words($c)")

  override protected def withNewChildInternal(c: Expression): AsciiWords =
    copy(child = c)
}

object AsciiWords {
  /** Maximal [a-z] byte runs of `s.toLowerCase()`, as an ArrayData of
    * UTF8String slices. Static entry for interpreted eval and codegen.
    */
  def words(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val lower = s.toLowerCase
    val b = lower.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]
    var i = 0
    val n = b.length
    while (i < n) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        val start = i
        while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
        out += org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, start, i - start)
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Adjacent-token pairs ("tok_i tok_i+1") of the same token stream — the
    * BPE pair statistic, fused end to end: zero pairs when fewer than two
    * tokens (the old chain's `size >= 2` filter), one byte scan, one
    * allocation per pair. Bit-identical to `transform(sequence(1,
    * size(t)-1), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1)))`
    * over [[words]].
    */
  def pairs(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val lower = s.toLowerCase
    val b = lower.getBytes
    // token spans (start, end) — found once, paired in a second cheap loop
    val starts = new scala.collection.mutable.ArrayBuffer[Int]
    val ends = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    val n = b.length
    while (i < n) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        starts += i
        while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
        ends += i
      } else i += 1
    }
    val k = starts.length
    val out = new Array[AnyRef](math.max(0, k - 1))
    var p = 0
    while (p < k - 1) {
      val l1 = ends(p) - starts(p)
      val l2 = ends(p + 1) - starts(p + 1)
      val pb = new Array[Byte](l1 + 1 + l2)
      System.arraycopy(b, starts(p), pb, 0, l1)
      pb(l1) = ' '
      System.arraycopy(b, starts(p + 1), pb, l1 + 1, l2)
      out(p) = org.apache.spark.unsafe.types.UTF8String.fromBytes(pb)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [[AsciiWords.pairs]] as an expression — see there. */
case class AsciiWordPairs(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ascii_word_pairs"

  override protected def nullSafeEval(v: Any): Any =
    AsciiWords.pairs(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AsciiWords.pairs($c)")

  override protected def withNewChildInternal(c: Expression): AsciiWordPairs =
    copy(child = c)
}

/** `SparkSessionExtensions` entry point: lets any deployment register the
  * graft functions at session build time —
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — instead of the
  * per-query `VectorFunctions.register` call the bundled queries use.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // one loop over the shared builder list — see VectorFunctions.builders
    VectorFunctions.builders.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // the custom operator's planner strategy + its pushdown rule (Catalyst
    // can't see through an opaque binary node without the rule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // predicate-derivation rules closing two constraint-propagation gaps
    // (literal bounds across non-equi joins; disjunctive domains) — see
    // graft.plans.DerivedPredicates for soundness + measurements
    e.injectOptimizerRule(_ => graft.plans.DeriveNonEquiJoinBounds)
    e.injectOptimizerRule(_ => graft.plans.DeriveDisjunctiveDomains)
  }
}
