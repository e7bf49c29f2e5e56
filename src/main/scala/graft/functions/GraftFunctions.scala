package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * ArrayType(FloatType) columns, in double precision (SURVEY §7.4: "custom
  * codegen'd Expression for cosine at scale — UDF first, Expression at M4").
  *
  * Why not a UDF / higher-order functions: Scala UDFs serialize row values
  * through the encoder boundary per call, and Spark's higher-order array
  * functions (`zip_with`/`aggregate`) interpret their lambda per *element* —
  * both break whole-stage codegen in exactly the hot loop that dominates
  * similarity search. This expression generates a tight Java loop inline in
  * the stage (`doGenCode`), reading floats directly from columnar ArrayData
  * with no per-element allocation.
  *
  * Accumulation is index-ascending double adds — the same fold order as the
  * HOF formulation and the DuckDB oracle, so results are bit-compatible with
  * the correctness gate.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // NB: return type inferred — AbstractDataType is private[spark].
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double xi = (double) $a.getFloat($i);
          double yi = (double) $b.getFloat($i);
          $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native strided polynomial byte-fold over a string column:
  * `acc = (acc * mult + byte[i]) % mod` for i = 0, step, 2·step, …
  * Generalizes three per-character operators that were interpreted HOF
  * lambdas (`transform`/`aggregate` evaluate their lambda per element):
  *  - document fingerprint (mult=31, mod=1e9+7, step=1) — q43;
  *  - additive checksum (mult=1, mod=997, step=1) — q70;
  *  - frame-sample sum (mult=1, huge mod, step=16) — q70.
  * ASCII-only fixture semantics: byte value == `ascii()` codepoint, matching
  * the DuckDB oracles char-for-char.
  */
case class BytePoly(child: Expression, mult: Long, mod: Long, step: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "byte_poly"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * mult + (bytes(i) & 0xffL)) % mod
      i += step
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BytePolyImpl.fold($c.getBytes(), ${mult}L, ${mod}L, $step)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper the generated code calls (keeps codegen one-line). */
object BytePolyImpl {
  def fold(bytes: Array[Byte], mult: Long, mod: Long, step: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * mult + (bytes(i) & 0xffL)) % mod
      i += step
    }
    acc
  }
}

/** Winnowing fingerprint (MOSS): polynomial hashes of all k-byte grams, then
  * the min of each w-hash sliding window, distinct + sorted. Same integer
  * algebra as the HOF/DuckDB formulation (hash = BytePoly(31, 1e9+7) of the
  * gram; short inputs degrade to one gram/window), but one tight Java pass —
  * the HOF form re-evaluates an interpreted lambda per gram. */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  // SQL-reachable (graft_winnow) — fail bad arguments at analysis time with
  // a clear message, not with an array-size exception mid-task.
  require(k >= 1 && w >= 1, s"graft_winnow: k and w must be >= 1, got k=$k w=$w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override def nullSafeEval(input: Any): Any =
    WinnowImpl.winnow(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowImpl.winnow($c.getBytes(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowImpl {
  private val Mod = 1000000007L

  def winnow(bytes: Array[Byte], k: Int, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = bytes.length
    val m = math.max(n - k + 1, 1) // gram count (short input → 1 short gram)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) { acc = (acc * 31 + (bytes(j) & 0xffL)) % Mod; j += 1 }
      hs(i) = acc
      i += 1
    }
    val numW = math.max(m - w + 1, 1)
    val mins = new java.util.TreeSet[java.lang.Long]()
    var j2 = 0
    while (j2 < numW) {
      var mn = Long.MaxValue
      var t = j2
      val end = math.min(j2 + w, m)
      while (t < end) { if (hs(t) < mn) mn = hs(t); t += 1 }
      mins.add(mn)
      j2 += 1
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All full character n-grams of a string column, native and codegen'd —
  * replaces `transform(sequence(1, length-n+1), i -> substring(text, i, n))`,
  * whose lambda Spark interprets once per character position (the dominant
  * cost of trigram profiling / language-ID over a corpus).
  *
  * Semantics match the HOF form it replaced for full grams: code-point
  * n-grams (`substring` counts code points), one per start position,
  * left-to-right; inputs shorter than n yield an empty array (the HOF form
  * yielded one short gram that every caller then filtered on length — the
  * filter stays in place and is now a no-op). One incremental boundary walk,
  * O(len · n) bytes, no per-gram lambda dispatch.
  */
case class CharNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(n >= 1, s"graft_ngrams: n must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(input: Any): Any =
    CharNgramsImpl.ngrams(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharNgramsImpl.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgramsImpl {
  import org.apache.spark.unsafe.types.UTF8String

  /** One pass over the bytes: record every code-point start offset, then
    * slice [off(i), off(i+n)) per gram — byte-identical to per-position
    * code-point substring without re-scanning from 0 each time. */
  def ngrams(u: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = u.getBytes
    val len = bytes.length
    // code-point start offsets (+ end sentinel)
    var count = 0
    var i = 0
    while (i < len) { i += UTF8String.numBytesForFirstByte(bytes(i)); count += 1 }
    val off = new Array[Int](count + 1)
    i = 0; var c = 0
    while (i < len) { off(c) = i; i += UTF8String.numBytesForFirstByte(bytes(i)); c += 1 }
    off(count) = len
    val m = math.max(count - n + 1, 0)
    val out = new Array[AnyRef](m)
    var g = 0
    while (g < m) {
      out(g) = UTF8String.fromBytes(bytes, off(g), off(g + n) - off(g))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Distinct token n-gram shingles of a string, native and codegen'd —
  * replaces `array_distinct(transform(sequence(1, size(toks) - 2), i ->
  * concat(toks[i], '_', toks[i+1], '_', toks[i+2])))` over
  * whitespace-tokenized text, whose lambda Spark interprets once per
  * shingle (the map-side cost of the MinHash and n-gram-Jaccard paths).
  *
  * Parity contract: tokens are the non-empty single-space splits (exactly
  * `filter(split(text, ' '), t -> t != '')`), shingles are the n
  * consecutive tokens joined by '_', de-duplicated keeping first
  * occurrence; fewer than n tokens yields an empty array (the CASE guard
  * the HOF form needed). Byte-identical strings ⇒ identical md5/xxhash64
  * downstream ⇒ the q51/q53/q54/q55 oracles replay unchanged.
  */
case class TokenShingles(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(n >= 1, s"graft_token_shingles: n must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_shingles"

  override def nullSafeEval(input: Any): Any =
    TokenShinglesImpl.shingles(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenShinglesImpl.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenShinglesImpl {
  import org.apache.spark.unsafe.types.UTF8String

  def shingles(u: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = u.getBytes
    // Token boundaries: split on the single byte ' ' (0x20 cannot occur
    // inside a UTF-8 multi-byte sequence), dropping empty tokens — the same
    // set as filter(split(text, ' '), t -> t != '').
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var tokStart = -1
    while (i <= bytes.length) {
      val isSep = i == bytes.length || bytes(i) == ' '.toByte
      if (isSep) {
        if (tokStart >= 0 && i > tokStart) { starts.add(tokStart); ends.add(i) }
        tokStart = -1
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    val nTok = starts.size()
    if (nTok < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](0))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var g = 0
    while (g <= nTok - n) {
      // gram = tokens g .. g+n-1 joined by '_'
      var len = n - 1
      var t = g
      while (t < g + n) { len += ends.get(t) - starts.get(t); t += 1 }
      val out = new Array[Byte](len)
      var pos = 0
      t = g
      while (t < g + n) {
        val l = ends.get(t) - starts.get(t)
        System.arraycopy(bytes, starts.get(t), out, pos, l)
        pos += l
        if (t < g + n - 1) { out(pos) = '_'.toByte; pos += 1 }
        t += 1
      }
      seen.add(UTF8String.fromBytes(out))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size())))
  }
}

/** Whole-document SimHash-60 in ONE pass, native and codegen'd: tokenize on
  * the space byte, md5 each token (first 15 hex chars → 60-bit integer, the
  * engine-neutral base hash shared with the oracles), ±1 vote per bit
  * weighted by occurrence, sign → bit. Replaces the explode →
  * shuffle-on-(doc, token-hash) → 60-aggregate-column formulation: the
  * fingerprint becomes a pure map-side projection — no row expansion and NO
  * shuffle at any corpus size. Bit-identical to the aggregate form
  * (SimHashParity tests + the unchanged q52 oracle).
  *
  * Returns 0 for a token-less input; [[graft.operators.Dedup.simHash]]
  * filters those rows to preserve the aggregate form's no-row behavior.
  */
/** One-pass per-document character statistics `[n_codepoints,
  * n_distinct_codepoints, entropy_bits]` for [[graft.operators.TextAnalysis
  * .charEntropy]]. The HOF formulation (`transform(array_distinct(cs), a ->
  * size(filter(cs, x -> x = a)))`) interprets O(|alphabet| × len) lambdas
  * per row — this walks the string ONCE, counting code points (DuckDB's
  * character semantics, per the q107/q44 code-point discipline) into a
  * small hash map. Entropy sums in the map's (deterministic per input)
  * iteration order; consumers round to 6 dp, which absorbs the
  * summation-order ulps vs any other fold order. */
case class CharStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "char_stats"

  override def nullSafeEval(input: Any): Any =
    CharStatsImpl.stats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharStatsImpl.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharStatsImpl {
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val Log2 = math.log(2.0)

  /** Called from generated code. */
  def stats(u: UTF8String): GenericArrayData = {
    val s = u.toString
    val counts = new java.util.HashMap[Integer, Array[Int]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
      i += Character.charCount(cp)
      n += 1
    }
    if (n == 0L) return new GenericArrayData(Array(0.0, 0.0, 0.0))
    var ent = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      ent -= p * (math.log(p) / Log2)
    }
    new GenericArrayData(Array(n.toDouble, counts.size.toDouble, ent))
  }
}

case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60Impl.simhash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60Impl.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[SimHash60]] over fixed-size payload FRAMES instead of whitespace
  * tokens — the perceptual-hash granularity the multimodal near-dup
  * (q235) votes with. Same md5 60-bit fold, same tie-to-zero vote rule;
  * only the slicing differs. Native because the HOF form (60-bit lambda
  * × per-frame aggregate, interpreted) priced the q235 gate at 14 s of
  * pure expression interpretation at sf0.1 — this keeps the one-pass
  * byte loop inside whole-stage codegen like its sibling. */
case class FrameSimHash60(child: Expression, frameBytes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(frameBytes >= 1, s"FrameSimHash60: frameBytes must be >= 1, got $frameBytes")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "frame_simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60Impl.simhashFrames(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], frameBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHash60Impl.simhashFrames($c, $frameBytes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash60Impl {
  import org.apache.spark.unsafe.types.UTF8String

  // MessageDigest is stateful and not thread-safe; one instance per executor
  // task thread, reset per token.
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit integer from an md5 digest's first 15 hex chars — digest bytes
    * b0..b6 in full plus the high nibble of b7, identical to
    * `conv(substring(md5(x), 1, 15), 16, 10)`. */
  private def h60(d: Array[Byte]): Long = {
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Fixed-stride variant for the multimodal frame stream (q235): votes
    * come from `frameBytes`-sized payload slices (partial last frame
    * included) instead of whitespace tokens — the perceptual-hash unit.
    * Byte stride ≡ the SQL `substring` char stride on the ASCII fixture
    * payloads (q70's 1-byte/char note); a real pipeline feeds raw frame
    * bytes where only this byte form is meaningful. Zero frames (empty
    * payload) → all votes 0 → signature 0; callers filter empties, as
    * [[graft.operators.Multimodal.frameSimHashNearDup]] does.
    * Called from generated code. */
  def simhashFrames(u: UTF8String, frameBytes: Int): Long = {
    val bytes = u.getBytes
    val votes = new Array[Int](60)
    val md = mdTl.get()
    var start = 0
    while (start < bytes.length) {
      md.reset()
      md.update(bytes, start, math.min(frameBytes, bytes.length - start))
      val v = h60(md.digest())
      var j = 0
      while (j < 60) {
        if (((v >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      start += frameBytes
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Called from generated code. */
  def simhash(u: UTF8String): Long = {
    val bytes = u.getBytes
    val votes = new Array[Int](60)
    val md = mdTl.get()
    var i = 0
    var tokStart = -1
    while (i <= bytes.length) {
      val isSep = i == bytes.length || bytes(i) == ' '.toByte
      if (isSep) {
        if (tokStart >= 0 && i > tokStart) {
          md.reset()
          md.update(bytes, tokStart, i - tokStart)
          val v = h60(md.digest())
          var j = 0
          while (j < 60) {
            if (((v >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        tokStart = -1
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }
}

/** Whole-document 32-permutation MinHash signature in ONE pass, native and
  * codegen'd: distinct token 3-gram shingles (byte-identical to
  * [[TokenShingles]]), md5 → 60-bit base hash mod P per shingle (the
  * engine-neutral hash the oracles replay), 32 permutation minima
  * `min((a·h + b) mod P)`. Replaces the explode → shuffle-on-(doc, hash) →
  * 32-min-column aggregation: signatures become a MAP-SIDE projection, so
  * the only shuffle left in MinHash-LSH is the banding join itself.
  * Returns an empty array for documents with no shingles (< 3 tokens) —
  * callers filter those, matching the aggregate form's no-row behavior.
  *
  * All arithmetic stays under 2^62 (h < P < 2^31, a < P), the same bound
  * that keeps the SQL form ANSI-safe. Permutation constants live in
  * [[MinHashSigImpl.PermA]]/[[PermB]] — the single source the Spark plan,
  * this expression, and the DuckDB oracle VALUES list all derive from.
  */
case class MinHashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSigImpl.sig(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSigImpl.sig($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigImpl {
  import org.apache.spark.unsafe.types.UTF8String

  val P = 2147483647L // 2^31 - 1
  val NumPerms = 32
  val ShingleN = 3

  /** Deterministic permutation constants (i → (a, b)) — the same formula the
    * round-1 SQL formulation fixed; the q51/q55 oracle VALUES list renders
    * these exact numbers. */
  val PermA: Array[Long] =
    Array.tabulate(NumPerms)(i => (1103515245L * (i + 1)) % P)
  val PermB: Array[Long] =
    Array.tabulate(NumPerms)(i => (12345L + 2654435761L * i) % P)

  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Called from generated code. */
  def sig(u: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val shingles = TokenShinglesImpl.shingles(u, ShingleN)
    val n = shingles.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    val md = mdTl.get()
    var s = 0
    while (s < n) {
      val sh = shingles.getUTF8String(s)
      md.reset()
      md.update(sh.getBytes)
      val d = md.digest()
      // first 15 hex chars → 60-bit int (same fold as SimHash60Impl), mod P
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = ((v << 4) | ((d(7) & 0xf0L) >>> 4)) % P
      var i = 0
      while (i < NumPerms) {
        val h = (v * PermA(i) + PermB(i)) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Multi-table random-hyperplane LSH bucketization, native and codegen'd:
  * returns the `numTables`-element int array of bucket ids (bit i of table
  * t's bucket = sign of the projection onto plane t·m+i). Replaces an
  * interpreted HOF formulation that carried 2,048 literal AST nodes per call
  * and evaluated `zip_with`/`aggregate` lambdas per element — the planes
  * here live in ONE reference object handed to generated code, and the dot
  * products are a tight Java loop inside the stage.
  *
  * Parity contract (the q61/q62/q64 oracles depend on it): plane component
  * (p, j) is the double parsed from the 9-decimal string
  * [[HyperplaneBucketsImpl.planeStrings]] — the same strings are injected
  * into the DuckDB oracle SQL — and the dot product is the same
  * index-ascending double fold as both the old HOF form and the oracle, so
  * signs (hence buckets, hence candidate sets) are bit-identical.
  */
case class HyperplaneBuckets(child: Expression, numTables: Int,
    planesPerTable: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(numTables >= 1 && planesPerTable >= 1 && planesPerTable <= 30 && dim >= 1,
    s"graft_hp_buckets: need numTables>=1, 1<=planesPerTable<=30, dim>=1; " +
      s"got ($numTables, $planesPerTable, $dim)")

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hp_buckets"

  @transient private lazy val planes: Array[Array[Double]] =
    HyperplaneBucketsImpl.planes(numTables, planesPerTable, dim)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBucketsImpl.buckets(
      input.asInstanceOf[ArrayData], planes, numTables, planesPerTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneBucketsImpl.buckets($c, $planesRef, $numTables, $planesPerTable)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBucketsImpl {
  /** Deterministic pseudo-random hyperplane component strings: (p, j) is
    * md5("plane_p_j") → signed int → [-1, 1] double, fixed at 9 decimals.
    * These STRINGS are the cross-engine contract: Spark parses them here,
    * the DuckDB oracles embed them as literals — both sides get the
    * identical IEEE double. */
  private[graft] def planeStrings(p: Int, dim: Int): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { j =>
      val h = md.digest(s"plane_${p}_$j".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h, 0, 4).getInt
      // Locale.ROOT: under a comma-decimal default locale, "%.9f" would emit
      // "0,123..." and the .toDouble parse (and the oracle literals) break.
      String.format(java.util.Locale.ROOT, "%.9f",
        Double.box(v.toDouble / Int.MaxValue.toDouble))
    }
  }

  private[graft] def planes(numTables: Int, planesPerTable: Int,
      dim: Int): Array[Array[Double]] =
    Array.tabulate(numTables * planesPerTable)(p => planeStrings(p, dim).map(_.toDouble))

  /** Called from generated code. Index-ascending double fold per plane —
    * the oracle-parity summation order. */
  def buckets(v: ArrayData, planes: Array[Array[Double]],
      numTables: Int, planesPerTable: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var b = 0
      var i = 0
      while (i < planesPerTable) {
        val plane = planes(t * planesPerTable + i)
        val n = math.min(plane.length, v.numElements())
        var dot = 0.0
        var j = 0
        while (j < n) { dot += v.getFloat(j).toDouble * plane(j); j += 1 }
        if (dot >= 0) b |= 1 << i
        i += 1
      }
      out(t) = b
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** A trained character-trigram log-probability table, shipped to executors
  * inside the expression itself (`ctx.addReferenceObj` — the plan/task-binary
  * broadcast path, so it works identically on a real cluster where executors
  * do not share the driver JVM). Keys are raw UTF-8 trigram bytes
  * ([[org.apache.spark.unsafe.types.UTF8String]] has value equals/hashCode),
  * so scoring never decodes to UTF-16.
  *
  * Both scorers walk CODE POINTS (byte offsets stepped by
  * `numBytesForFirstByte`, exactly [[CharNgramsImpl.ngrams]]) — the same unit
  * the model was trained on and the same unit DuckDB's `substr`/`length`
  * count. The previous UDF scorers walked UTF-16 code units, which on
  * supplementary-plane text (emoji, CJK extensions) scored surrogate-half
  * "trigrams" that could never hit the model and divided by a different n
  * than the reported `n_tri`.
  *
  * Rounding is 6-dp HALF_UP *before* any comparison — the cross-engine tie
  * rule the q44/q107 oracles replay.
  */
final class TrigramLm(
    val langs: Array[org.apache.spark.unsafe.types.UTF8String],
    val table: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Double]],
    val floor: Double) extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Code-point start offsets (+ end sentinel) — one linear byte walk. */
  private def offsets(bytes: Array[Byte]): Array[Int] = {
    val len = bytes.length
    var count = 0; var i = 0
    while (i < len) { i += UTF8String.numBytesForFirstByte(bytes(i)); count += 1 }
    val off = new Array[Int](count + 1)
    i = 0; var c = 0
    while (i < len) { off(c) = i; i += UTF8String.numBytesForFirstByte(bytes(i)); c += 1 }
    off(count) = len
    off
  }

  /** Mean trigram log-prob under lang 0, unseen trigrams at the smoothing
    * floor; n = codePointCount - 2 (callers filter length >= 3 first). */
  def meanLogP(u: UTF8String): Double = {
    val bytes = u.getBytes
    val off = offsets(bytes)
    val m = off.length - 3 // (codepoints + 1 sentinel) - 3 = trigram count
    if (m <= 0) return Double.NaN
    var sum = 0.0; var g = 0
    while (g < m) {
      val v = table.get(UTF8String.fromBytes(bytes, off(g), off(g + 3) - off(g)))
      sum += (if (v == null) floor else v(0))
      g += 1
    }
    round6(sum / m)
  }

  /** Per-lang summed log-probs (unseen trigrams contribute nothing — the
    * shared 0 cancels in the argmax), rounded, argmax with ties to the
    * lowest index (langs arrive sorted ascending). */
  def predict(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val scores = new Array[Double](langs.length)
    val bytes = u.getBytes
    val off = offsets(bytes)
    val m = off.length - 3
    var g = 0
    while (g < m) {
      val v = table.get(UTF8String.fromBytes(bytes, off(g), off(g + 3) - off(g)))
      if (v != null) {
        var j = 0; while (j < v.length) { scores(j) += v(j); j += 1 }
      }
      g += 1
    }
    var j = 0
    while (j < scores.length) { scores(j) = round6(scores(j)); j += 1 }
    var best = 0; j = 1
    while (j < langs.length) { if (scores(j) > scores(best)) best = j; j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](langs(best), scores(best)))
  }
}

/** Mean trigram log-probability of a string under a [[TrigramLm]] — the
  * codegen'd replacement for the lmScore scoring UDF (one virtual call per
  * row inside the WholeStageCodegen projection, no encoder boundary). */
case class LmMeanLogP(child: Expression, model: TrigramLm)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "lm_mean_logp"

  override def nullSafeEval(input: Any): Any =
    model.meanLogP(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lm", model, classOf[TrigramLm].getName)
    defineCodeGen(ctx, ev, c => s"$m.meanLogP($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Argmax language prediction of a string under a [[TrigramLm]] — the
  * codegen'd replacement for the langId scoring UDF. Returns a struct of
  * (predicted_lang, score). */
case class LmPredictLang(child: Expression, model: TrigramLm)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("predicted_lang", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def prettyName: String = "lm_predict_lang"

  override def nullSafeEval(input: Any): Any =
    model.predict(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lm", model, classOf[TrigramLm].getName)
    defineCodeGen(ctx, ev, c => s"$m.predict($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared bit-interleave kernel for [[ZValue]] — also the codegen target. */
object ZValueImpl {
  /** Spreads the low 31 bits of `v0` onto the even bit positions (the
    * classic Morton magic-mask cascade — 5 shift/mask steps, branch-free). */
  def spread(v0: Long): Long = {
    var v = v0 & 0x7FFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** 2-D Z-order key: x on even bits, y on odd — ≤ 62 bits, always ≥ 0. */
  def z(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

/** Native 2-D Z-order (Morton) key over two long columns — the multi-
  * dimensional clustering key a 100 TB layout sorts/range-partitions by so
  * that a box predicate on EITHER dimension maps to a bounded set of key
  * ranges (and so to a bounded set of files), instead of only the leading
  * column of a lexicographic sort being skippable. Inputs are interpreted
  * as unsigned 31-bit (higher bits masked); the result is a non-negative
  * long, so range partitioning and parquet min/max stats order it
  * correctly. Branch-free magic-mask interleave, inlined into the stage
  * via codegen; the DuckDB oracle replays the same shift/mask cascade. */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zvalue"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValueImpl.z(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ZValueImpl.z($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** One (name, builder) row per native expression — the single source for
    * both per-session registration ([[register]]) and cluster-wide install
    * via `spark.sql.extensions` ([[graft.GraftExtensions]]). */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_zvalue" -> (exprs => ZValue(exprs(0), exprs(1))),
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "graft_fingerprint" -> (exprs => BytePoly(exprs.head, 31L, 1000000007L, 1)),
    "graft_checksum997" -> (exprs => BytePoly(exprs.head, 1L, 997L, 1)),
    "graft_frame_sum16" -> (exprs => BytePoly(exprs.head, 1L, Long.MaxValue, 16)),
    "graft_winnow" -> (exprs => WinnowFingerprint(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue())),
    "graft_ngrams" -> (exprs => CharNgrams(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())),
    "graft_token_shingles" -> (exprs => TokenShingles(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())),
    "graft_simhash60" -> (exprs => SimHash60(exprs.head)),
    "graft_frame_simhash60" -> (exprs => FrameSimHash60(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())),
    "graft_char_stats" -> (exprs => CharStats(exprs.head)),
    "graft_minhash_sig" -> (exprs => MinHashSig(exprs.head)),
    "graft_hp_buckets" -> (exprs => HyperplaneBuckets(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].intValue(),
      exprs(3).eval().asInstanceOf[Number].intValue())),
  )

  /** Registers a session-scoped temp function whose builder CAPTURES a
    * driver-side object (a trained [[TrigramLm]]) — the route for model
    * parameters that cannot travel through SQL literal arguments. Safe to
    * re-register the same name per model build: DataFrames analyze eagerly,
    * so each `expr(...)` call binds the model registered at that moment and
    * later re-registration never rebinds an existing frame. */
  def registerCapturing(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Idempotent per-session registration; afterwards the functions are
    * available to SQL and `expr(...)`. A name whose registered builder is
    * already graft's own (the [[builders]] entries are stable instances,
    * whether registered here or injected by [[graft.GraftExtensions]]) is
    * left alone, so repeat calls write nothing to the registry. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
