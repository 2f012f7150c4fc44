package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GraftStringArrayInput, GraftStringInput, GraftStringOrLongArrayInput, GraftVectorInput, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the training-data pipeline hot paths.
  *
  * Each expression stays inside whole-stage codegen by emitting a call to a
  * small static JVM helper (the same pattern Spark's own hash expressions
  * use) — no Scala UDF boxing, no codegen fallback. At 100 TB these run
  * once per document per batch, so this is the layer worth keeping native.
  */

/** 64-bit FNV-1a over the UTF-8 bytes — document fingerprinting.
  * Pair with lower/trim/regexp_replace for normalization (see
  * [[graft.functions.TextFunctions.fingerprint]]). */
case class Fingerprint64(child: Expression)
  extends UnaryExpression with GraftStringInput {
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.fnv1a64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashImpl.fnv1a64($c)")
  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

/** MinHash signature of a shingle array: k affine transforms
  * `(a_i * h + b_i)` of ONE xxHash64 per shingle — the standard one-pass
  * construction (Broder '97). Empty input → all Long.MaxValue (callers
  * should filter empty docs before LSH banding, or every empty doc lands
  * in the same bucket). */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long = 42L)
  extends UnaryExpression with GraftStringOrLongArrayInput {
  require(numHashes > 0 && numHashes <= 1024, "numHashes must be in (0, 1024]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // array<long> input = pre-hashed shingles (word_shingle_hashes): skip the
  // per-element xx64 and apply the affine transforms directly. Signatures
  // are identical to the string path because that path hashes with the
  // same (xx64, seed).
  private lazy val preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(input: Any): Any =
    if (preHashed)
      TextHashImpl.minhashFromHashes(input.asInstanceOf[ArrayData], numHashes, seed)
    else TextHashImpl.minhash(input.asInstanceOf[ArrayData], numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (preHashed) "minhashFromHashes" else "minhash"
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHashImpl.$fn($c, $numHashes, ${seed}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Deflate compression ratio of the UTF-8 text: compressed/raw bytes in
  * (0, ~1.1]. Highly repetitive machine-generated junk compresses far
  * below natural prose (~0.3-0.6 for English), making this the cheap
  * single-number repetitiveness signal quality pipelines cut on
  * (Gopher's repetition filters approximate what one deflate pass
  * measures directly). Level-6 zlib, whole-doc window; empty text → 1.0.
  * Deterministic for a given JDK zlib; no SQL engine replicates deflate,
  * so correctness is spec-pinned (ordering properties + byte-level
  * round-trip), not oracle-hashed. */
case class CompressionRatio(child: Expression)
  extends UnaryExpression with GraftStringInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "compression_ratio"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.compressionRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHashImpl.compressionRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): CompressionRatio =
    copy(child = newChild)
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization pass
  * exact dedup needs BEFORE fingerprinting: "café" composed (U+00E9) and
  * decomposed (e + U+0301) are byte-different, survive fingerprint dedup
  * as distinct docs, and appear in real crawls in both spellings. NFKC
  * additionally folds compatibility forms (ﬁ → fi, fullwidth → ASCII),
  * the usual choice for training corpora. Fast path: already-normalized
  * strings (the overwhelming majority) return the input unchanged. */
case class UnicodeNormalize(child: Expression, form: String = "NFC")
  extends UnaryExpression with GraftStringInput {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"unknown form $form")
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.unicodeNormalize(input.asInstanceOf[UTF8String], form)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"""graft.expressions.TextHashImpl.unicodeNormalize($c, "$form")""")
  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Cross-lingual matching fold: NFD-decompose, strip combining marks,
  * lowercase, and transliterate the handful of Latin letters NFD cannot
  * decompose (ß→ss, æ→ae, œ→oe, ø→o, đ→d, ł→l). "Résumé", "RESUME" and
  * "resumé" all fold to "resume", so near-dup detection pairs
  * transliterated/diacritic variants of the same document that raw
  * shingles would miss — the fold-before-MinHash pass for multilingual
  * crawl dedup. Equivalent to DuckDB's strip_accents∘lower over the
  * decomposable range, which is what lets fold-based gates replay. */
case class MatchFold(child: Expression)
  extends UnaryExpression with GraftStringInput {
  override def dataType: DataType = StringType
  override def prettyName: String = "match_fold"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.matchFold(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHashImpl.matchFold($c)")
  override protected def withNewChildInternal(newChild: Expression): MatchFold =
    copy(child = newChild)
}

/** Jaro–Winkler similarity — the record-linkage scorer Spark lacks as a
  * built-in (it has only levenshtein/soundex): codegen'd, NULL-safe,
  * integer half-transpositions + 0.7 boost threshold, verified
  * value-identical to DuckDB's `jaro_winkler_similarity` (incl. the
  * odd-transposition and below-threshold-prefix corners). */
case class JaroWinkler(left: Expression, right: Expression)
  extends BinaryExpression with GraftStringInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.jaroWinkler(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.TextHashImpl.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over a token array (Charikar '02): per-bit vote of each
  * token's xxHash64, weighted +1/-1; near-duplicates differ in few bits, so
  * `bit_count(a ^ b)` (built-in) gives the Hamming distance. */
case class SimHash64(child: Expression, seed: Long = 42L)
  extends UnaryExpression with GraftStringArrayInput {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.simhash(input.asInstanceOf[ArrayData], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashImpl.simhash($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** SimHash64 with an md5-derived token hash (first 8 digest bytes,
  * big-endian) instead of seeded xxHash64. ~10× more hashing cost per
  * token, so the xx64 variant stays the scale default — this one exists
  * because every SQL engine has `md5()`, which makes the WHOLE simhash
  * pipeline (votes, signature, banding, Hamming verify) reproducible by
  * an independent oracle, not just spec-tested. */
case class SimHash64Md5(child: Expression)
  extends UnaryExpression with GraftStringArrayInput {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_md5"
  protected override def nullSafeEval(input: Any): Any =
    TextHashImpl.simhashMd5(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashImpl.simhashMd5($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Md5 =
    copy(child = newChild)
}

/** Cosine similarity of two float/double arrays in one fused pass —
  * replaces a zip_with + aggregate + sqrt expression tree with a single
  * tight loop (and single codegen call). Null elements are not supported;
  * zero-norm inputs yield 0.0. */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with GraftVectorInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.cosine(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.VectorImpl.cosine($a, ${isFloat(left)}, $b, ${isFloat(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Static helpers invoked from generated code — keep signatures stable. */
object TextHashImpl {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  // per-row native Deflater init/end would dominate the actual deflate
  // work for short docs at corpus scale; reuse one native instance and
  // one scratch buffer per executor thread (reset() between rows)
  private val deflaterTL =
    ThreadLocal.withInitial[java.util.zip.Deflater](
      () => new java.util.zip.Deflater(6))
  private val deflateBufTL =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  def compressionRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = deflaterTL.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    var compressed = 0L
    val buf = deflateBufTL.get()
    while (!d.finished()) compressed += d.deflate(buf)
    compressed.toDouble / raw.length
  }

  /** Jaro–Winkler similarity (Winkler '90), the record-linkage standard:
    * Jaro match/transposition count over the `max(len)/2 − 1` window,
    * then the prefix boost `j + ℓ·0.1·(1−j)` for up to 4 common leading
    * chars, applied only when j > 0.7 (the boost threshold every
    * mainstream implementation — including DuckDB's
    * `jaro_winkler_similarity` — uses, which is what lets gates replay).
    * Operates on UTF-16 code units; identical to byte-wise for ASCII. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString; val t = b.toString
    val la = s.length; val lb = t.length
    if (la == 0 || lb == 0) return 0.0
    if (s == t) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!mb(j) && s.charAt(i) == t.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of s vs matched chars of t, in order
    var tpos = 0; var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (s.charAt(i) != t.charAt(k)) tpos += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - tpos / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && s.charAt(l) == t.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  def unicodeNormalize(s: UTF8String, form: String): UTF8String = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }

  /** NFD → drop combining marks → per-char lowercase → transliterate the
    * non-decomposable Latin holdouts. ASCII input round-trips through
    * the fast already-normalized path with only the lowercase pass. */
  def matchFold(s: UTF8String): UTF8String = {
    val str = s.toString
    val f = java.text.Normalizer.Form.NFD
    val nfd =
      if (java.text.Normalizer.isNormalized(str, f)) str
      else java.text.Normalizer.normalize(str, f)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val ch = nfd.charAt(i)
      if (Character.getType(ch) != Character.NON_SPACING_MARK) {
        ch match {
          case 'ß' | 'ẞ'       => sb.append("ss")
          case 'Æ' | 'æ'       => sb.append("ae")
          case 'Œ' | 'œ'       => sb.append("oe")
          case 'Ø' | 'ø'       => sb.append('o')
          case 'Đ' | 'đ' | 'Ð' => sb.append('d')
          case 'Ł' | 'ł'       => sb.append('l')
          case 'Þ' | 'þ'       => sb.append("th")
          case _               => sb.append(Character.toLowerCase(ch))
        }
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def fnv1a64(s: UTF8String): Long = {
    var h = FnvOffset
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      h ^= (s.getByte(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def xx64(s: UTF8String, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** Affine coefficient cache keyed by (numHashes, seed); coefficients come
    * from a seeded SplittableRandom so signatures are deterministic. */
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  private def coeffs(k: Int, seed: Long): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent((k, seed), { case (kk, s) =>
      val rnd = new java.util.SplittableRandom(s)
      val a = Array.fill(kk)(rnd.nextLong() | 1L) // odd => bijective mod 2^64
      val b = Array.fill(kk)(rnd.nextLong())
      (a, b)
    })

  def minhash(shingles: ArrayData, numHashes: Int, seed: Long): ArrayData = {
    val (a, b) = coeffs(numHashes, seed)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = xx64(shingles.getUTF8String(i), seed)
      var j = 0
      while (j < numHashes) {
        val v = a(j) * h + b(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def minhashFromHashes(hashes: ArrayData, numHashes: Int, seed: Long): ArrayData = {
    val (a, b) = coeffs(numHashes, seed)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = a(j) * h + b(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5-digest bytes, big-endian — the same 64 bits as
    * `('0x' || substr(md5(s), 1, 16))::UBIGINT` in DuckDB/Postgres. */
  def md5hash64(s: UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def simhashMd5(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = md5hash64(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash(tokens: ArrayData, seed: Long): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = xx64(tokens.getUTF8String(i), seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

object VectorImpl {
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Symmetric per-vector int8 scale: max|x| / 127 (0 for the zero
    * vector). Computed in double from the exact input values so an
    * external double-arithmetic engine reproduces it bit-for-bit. */
  def int8Scale(v: ArrayData, isFloat: Boolean): Double = {
    val n = v.numElements()
    var mx = 0.0
    var j = 0
    while (j < n) {
      val x = math.abs(if (isFloat) v.getFloat(j).toDouble else v.getDouble(j))
      if (x > mx) mx = x
      j += 1
    }
    mx / 127.0
  }

  /** Round-to-nearest int8 codes under [[int8Scale]]; the zero vector
    * quantizes to all-zero codes. |x - code·scale| ≤ scale/2 for every
    * component by construction (codes span the full ±127 range since the
    * scale is the max component). */
  def int8Quantize(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val s = int8Scale(v, isFloat)
    val out = new Array[Byte](n)
    if (s > 0.0) {
      var j = 0
      while (j < n) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        val q = math.rint(x / s)
        out(j) = math.max(-127.0, math.min(127.0, q)).toByte
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  def int8Dequantize(q: ArrayData, scale: Double): ArrayData = {
    val n = q.numElements()
    val out = new Array[Float](n)
    var j = 0
    while (j < n) {
      out(j) = (q.getByte(j) * scale).toFloat
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 1-bit sign quantization: bit (j mod 64) of word (j div 64) is set
    * iff component j >= 0 (so −0.0 sets the bit and NaN clears it — both
    * choices replay identically in any IEEE engine). 32× storage cut over
    * float; Hamming distance between packed words estimates angular
    * distance exactly as axis-aligned hyperplane LSH. */
  def signPack(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val words = new Array[Long]((n + 63) >>> 6)
    var j = 0
    while (j < n) {
      val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      if (x >= 0.0) words(j >>> 6) |= (1L << (j & 63))
      j += 1
    }
    new GenericArrayData(words)
  }

  /** Popcount-XOR Hamming distance over sign-packed words. The shorter
    * input zero-extends: the longer side's extra words XOR against 0,
    * so their set bits all count as mismatches (callers normally
    * quantize both sides to the same dim with [[signPack]], where the
    * tail never runs). */
  def hammingDistance(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    val (longer, nl) = if (na > nb) (a, na) else (b, nb)
    while (i < nl) {
      acc += java.lang.Long.bitCount(longer.getLong(i))
      i += 1
    }
    acc
  }

  /** Rademacher random projection (Achlioptas '03): out_k =
    * Σ_j v_j · sign(mix(seed,k,j)) / √outDim. Distances/cosines are
    * preserved in JL fashion with ±1 entries — no Gaussian sampling, no
    * matrix to store or broadcast (signs derive from the splitmix), and
    * the result is float, so a 64-dim double embedding projected to 16
    * dims cuts downstream shuffle bytes 8×. */
  def randomProject(v: ArrayData, isFloat: Boolean, outDim: Int,
                    seed: Long): ArrayData = {
    val dim = v.numElements()
    val out = new Array[Float](outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    var k = 0
    while (k < outDim) {
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        val sign = if ((mix(seed ^ (k.toLong << 32) ^ j.toLong) & 1L) == 1L) 1.0 else -1.0
        acc += x * sign
        j += 1
      }
      out(k) = (acc * scale).toFloat
      k += 1
    }
    new GenericArrayData(out)
  }

  /** splitmix64 finalizer — deterministic per-(seed,bit,component) sign. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def nearestCentroid(v: ArrayData, isFloat: Boolean,
                      cents: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = -1
    var bestCos = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val dim = math.min(n, c.length)
      var dot = 0.0; var nv = 0.0; var nc = 0.0
      var j = 0
      while (j < dim) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        dot += x * c(j); nv += x * x; nc += c(j) * c(j)
        j += 1
      }
      val cos = if (nv == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nv * nc)
      if (cos > bestCos) { bestCos = cos; best = ci }
      ci += 1
    }
    best
  }

  def hyperplaneSig(v: ArrayData, isFloat: Boolean, seed: Long): Long = {
    val dim = v.numElements()
    var out = 0L
    var bit = 0
    while (bit < 64) {
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        val sign = if ((mix(seed ^ (bit.toLong << 32) ^ j.toLong) & 1L) == 1L) 1.0 else -1.0
        acc += x * sign
        j += 1
      }
      if (acc > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** L2-normalized copy of `v` as a double array; zero-norm → all zeros. */
  def normalized(v: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var norm = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = x; norm += x * x
      i += 1
    }
    if (norm > 0.0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    out
  }

  /** Subspace bounds: subspace i covers [lo, hi) of a dim-`n` vector,
    * splitting as evenly as integer division allows. */
  private def subRange(n: Int, m: Int, i: Int): (Int, Int) = {
    val base = n / m; val rem = n % m
    val lo = i * base + math.min(i, rem)
    val hi = lo + base + (if (i < rem) 1 else 0)
    (lo, hi)
  }

  def pqEncode(v: ArrayData, isFloat: Boolean,
               codebooks: Array[Array[Array[Double]]]): Long = {
    val x = normalized(v, isFloat)
    val m = codebooks.length
    var code = 0L
    var i = 0
    while (i < m) {
      val (lo, hi) = subRange(x.length, m, i)
      val cb = codebooks(i)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var j = lo
        while (j < hi && j - lo < cent.length) {
          val diff = x(j) - cent(j - lo)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code |= (best.toLong & 0xffL) << (8 * i)
      i += 1
    }
    code
  }

  def pqTable(q: ArrayData, isFloat: Boolean,
              codebooks: Array[Array[Array[Double]]]): ArrayData = {
    val x = normalized(q, isFloat)
    val m = codebooks.length
    val ks = codebooks(0).length
    val out = new Array[Double](m * ks)
    var i = 0
    while (i < m) {
      val (lo, hi) = subRange(x.length, m, i)
      val cb = codebooks(i)
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var acc = 0.0
        var j = lo
        while (j < hi && j - lo < cent.length) {
          acc += x(j) * cent(j - lo)
          j += 1
        }
        out(i * ks + c) = acc
        c += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def pqAdc(code: Long, table: ArrayData, m: Int, ks: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < m) {
      val c = ((code >>> (8 * i)) & 0xffL).toInt
      acc += table.getDouble(i * ks + c)
      i += 1
    }
    acc
  }

  def matrixProject(v: ArrayData, isFloat: Boolean,
                    means: Array[Double],
                    w: Array[Array[Double]]): ArrayData = {
    val d = means.length
    val n = math.min(v.numElements(), d)
    val centered = new Array[Double](d)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      centered(i) = x - means(i)
      i += 1
    }
    while (i < d) { centered(i) = -means(i); i += 1 }
    val out = new Array[Double](w.length)
    var k = 0
    while (k < w.length) {
      val row = w(k)
      var acc = 0.0
      var j = 0
      while (j < d) { acc += row(j) * centered(j); j += 1 }
      out(k) = acc
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column-level API + SQL registration for the custom expressions. */
object GraftExpressions {
  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  def fingerprint64(c: Column): Column = col(Fingerprint64(expr(c)))
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    col(UnicodeNormalize(expr(c), form))
  def matchFold(c: Column): Column = col(MatchFold(expr(c)))
  def jaroWinkler(a: Column, b: Column): Column =
    col(JaroWinkler(expr(a), expr(b)))
  def compressionRatio(c: Column): Column = col(CompressionRatio(expr(c)))
  def wordShingles(c: Column, n: Int): Column = col(WordShingles(expr(c), n))
  def charNgrams(c: Column, n: Int): Column = col(CharNgrams(expr(c), n))
  def wordShingleHashes(c: Column, n: Int, seed: Long = 42L): Column =
    col(WordShingleHashes(expr(c), n, seed))
  def minhashSignature(c: Column, numHashes: Int, seed: Long = 42L): Column =
    col(MinHashSignature(expr(c), numHashes, seed))
  def simhash64(c: Column, seed: Long = 42L): Column = col(SimHash64(expr(c), seed))
  def randomProject(v: Column, outDim: Int, seed: Long = 42L): Column =
    col(RandomProject(expr(v), outDim, seed))
  def simhash64Md5(c: Column): Column = col(SimHash64Md5(expr(c)))
  def multiPatternCount(c: Column, patterns: Seq[String]): Column =
    col(MultiPatternCount(expr(c), patterns))
  def multiPatternDistinct(c: Column, patterns: Seq[String]): Column =
    col(MultiPatternDistinct(expr(c), patterns))
  def cosineSimilarity(a: Column, b: Column): Column =
    col(CosineSimilarity(expr(a), expr(b)))
  def int8Scale(v: Column): Column = col(Int8Scale(expr(v)))
  def int8Quantize(v: Column): Column = col(Int8Quantize(expr(v)))
  def int8Dequantize(codes: Column, scale: Column): Column =
    col(Int8Dequantize(expr(codes), expr(scale)))
  def signPack(v: Column): Column = col(SignPack(expr(v)))
  def hammingDistance(a: Column, b: Column): Column =
    col(HammingDistance(expr(a), expr(b)))
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    col(PqEncode(expr(v), codebooks))
  def pqTable(q: Column, codebooks: Array[Array[Array[Double]]]): Column =
    col(PqTable(expr(q), codebooks))
  def pqAdcScore(code: Column, table: Column, m: Int, ks: Int): Column =
    col(PqAdcScore(expr(code), expr(table), m, ks))
  /** Aggregate: approximate top-k heavy hitters (exact when capacity
    * covers the distinct count). */
  def topkSketch(c: Column, k: Int, capacity: Int): Column =
    col(TopKItems(expr(c), k, capacity).toAggregateExpression())

  /** Aggregate: count + component sums + upper-triangle product sums of
    * a vector column — the fixed-size mergeable summary under
    * covariance / Gram / PCA (see [[VectorMomentsAgg]]). */
  def vectorMoments(v: Column): Column =
    col(VectorMomentsAgg(expr(v)).toAggregateExpression())

  /** Map-only centered projection `W (x − μ)` (see [[MatrixProject]]). */
  def matrixProject(v: Column, means: Array[Double],
                    w: Array[Array[Double]]): Column =
    col(MatrixProject(expr(v), means, w))

  /** Make the expressions usable from `spark.sql(...)` too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = org.apache.spark.sql.GraftColumnBridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction("fingerprint64",
      es => Fingerprint64(es.head), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("simhash64_md5",
      es => SimHash64Md5(es.head), "built-in")
    reg.createOrReplaceTempFunction("cosine_similarity",
      es => CosineSimilarity(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("word_shingles",
      es => WordShingles(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("hyperplane_sig64",
      es => HyperplaneSignature64(es.head), "built-in")
    reg.createOrReplaceTempFunction("word_shingle_hashes",
      es => WordShingleHashes(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("minhash_signature",
      es => MinHashSignature(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("topk_sketch",
      es => TopKItems(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue(),
        es(2).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("unicode_normalize",
      es => UnicodeNormalize(es.head,
        if (es.size > 1) es(1).eval(null).toString else "NFC"), "built-in")
    reg.createOrReplaceTempFunction("compression_ratio",
      es => CompressionRatio(es.head), "built-in")
    reg.createOrReplaceTempFunction("match_fold",
      es => MatchFold(es.head), "built-in")
    reg.createOrReplaceTempFunction("percent_normalize",
      es => PercentNormalize(es.head), "built-in")
    reg.createOrReplaceTempFunction("idn_ascii",
      es => IdnAscii(es.head), "built-in")
    reg.createOrReplaceTempFunction("random_project",
      es => RandomProject(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("vector_moments",
      es => VectorMomentsAgg(es.head).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("int8_quantize",
      es => Int8Quantize(es.head), "built-in")
    reg.createOrReplaceTempFunction("int8_scale",
      es => Int8Scale(es.head), "built-in")
    reg.createOrReplaceTempFunction("sign_pack",
      es => SignPack(es.head), "built-in")
    reg.createOrReplaceTempFunction("hamming_distance",
      es => HammingDistance(es(0), es(1)), "built-in")
  }
}
