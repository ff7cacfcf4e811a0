package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the vector / text pipeline operators.
  *
  * These are native expressions (not UDFs) so they stay inside Tungsten:
  * no serialization boundary. [[CosineSimilarity]] emits its loop as Java
  * source (full codegen — the hot operation of the similarity-search
  * path, SURVEY §2.3, §7.3(c)); the others participate in whole-stage
  * codegen through [[RefCallCodegen]] instead of `CodegenFallback`, so a
  * projection containing them keeps its fused span.
  */

/** Reference-call codegen: emit a call to this compiled expression object
  * rather than extending `CodegenFallback`. A fallback expression forces
  * the ENTIRE projection containing it out of whole-stage codegen (every
  * column of every row drops to interpreted eval); the reference call
  * keeps the surrounding operators' fused codegen span, and only this
  * expression's value crosses one JIT-compiled virtual call. The loop
  * bodies stay plain Scala — no Java source strings to maintain.
  */
trait RefCallCodegen extends UnaryExpression {

  /** Public bridge so generated Java reaches the protected eval. */
  final def evalBridge(v: Any): Any = nullSafeEval(v)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, classOf[RefCallCodegen].getName)
    nullSafeCodeGen(ctx, ev, c => dataType match {
      case LongType =>
        s"${ev.value} = ((java.lang.Long) $ref.evalBridge($c)).longValue();"
      case IntegerType =>
        s"${ev.value} = ((java.lang.Integer) $ref.evalBridge($c)).intValue();"
      case DoubleType =>
        s"${ev.value} = ((java.lang.Double) $ref.evalBridge($c)).doubleValue();"
      case _: ArrayType =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.evalBridge($c);"
      case other =>
        throw new IllegalStateException(s"RefCallCodegen: unsupported result type $other")
    })
  }
}

/** Cosine similarity of two float vectors, accumulated in double.
  *
  * Accumulation is sequential (index order) so results are reproducible
  * and match a straightforward loop in any other engine. Returns NaN for
  * zero-norm inputs (never occurs in the fixtures).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getFloat($i);
          double $yi = $b.getFloat($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash of a token array (near-duplicate sketch).
  *
  * Per token: a Karp–Rabin polynomial hash over the token's UTF-8 bytes
  * (B=257 mod M=2^61−1 — the same engine-portable basis as
  * [[RollingHash]]) finalized by murmur3's fmix64 bijective mixer; each
  * of the 64 result bits votes +1/-1 on the corresponding output bit
  * and the fingerprint sets bits with a positive tally (a zero tally
  * leaves the bit clear). Documents within small Hamming distance are
  * near-duplicates.
  *
  * The raw polynomial value is NOT mixed enough to vote with — it lives
  * below 257^len for short tokens, so high bits would be constant-zero
  * and the sketch would only ever encode long tokens. fmix64 spreads
  * every input bit across all 64 positions, is a pure function of the
  * value (no seed), and — the reason it was chosen over xxHash64 — is
  * four wrapping-arithmetic steps a SQL oracle can replicate exactly
  * (HUGEINT multiply mod 2^64 + UBIGINT xor/shift in DuckDB), which is
  * what gives q31 a full rows+schema+hash oracle instead of a
  * rows-only check.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = SimHash64.tokenHash(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  private final val M = (1L << 61) - 1
  private final val B = 257L

  /** fmix64(poly257(bytes)): the per-token vote value. Java's `*` wraps
    * mod 2^64 — exactly the HUGEINT `% 2^64` the oracle performs. */
  def tokenHash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // h*257 never overflows the Math.multiplyHigh path: h < 2^61
      val hi = Math.multiplyHigh(h, B)
      val lo = h * B
      h = (lo & M) + ((lo >>> 61) | (hi << 3)) + (bytes(i) & 0xffL)
      while (h >= M) h -= M
      i += 1
    }
    var x = h
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }
}

/** Shannon entropy (nats) of a string's character distribution — the
  * per-document gibberish/boilerplate quality signal. One O(n log n)
  * pass: code points sorted, run lengths summed in ascending code-point
  * order, so the value is a pure function of the string and the SQL
  * oracle reproduces the exact float sum over `list_sort`'d distinct
  * characters (UTF-8 byte order equals code-point order). No
  * per-character array allocations — the HOF composition of the same
  * formula pays an interpreted lambda per (distinct char × char). */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    if (cps.isEmpty) return 0.0
    java.util.Arrays.sort(cps)
    val n = cps.length.toDouble
    var ent = 0.0
    var i = 0
    while (i < cps.length) {
      var j = i
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val p = (j - i) / n
      ent -= p * math.log(p)
      i = j
    }
    ent
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Polynomial rolling hash of a whole string (document fingerprint).
  *
  * Karp–Rabin style: h = Σ byte·B^i mod M with B=257, M=2^61−1, computed
  * incrementally left-to-right — the building block of shift-resistant
  * fingerprinting.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  private final val M = (1L << 61) - 1
  private final val B = 257L

  private def mulmod(a: Long, b: Long): Long = {
    // 128-bit multiply mod 2^61-1 via Math.multiplyHigh
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var res = (lo & M) + ((lo >>> 61) | (hi << 3))
    if (res >= M) res -= M
    res
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = mulmod(h, B) + (bytes(i) & 0xffL)
      if (h >= M) h -= M
      i += 1
    }
    h
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rolling hashes of every k-token window of a whitespace-tokenized
  * string, in position order: `result(i)` is the hash of tokens
  * `[i, i+k)`; empty when the document has fewer than k tokens.
  *
  * Karp–Rabin over per-token xxHash64 values (B=1000003, M=2^61−1) with
  * the rolling update, so a document costs O(tokens) regardless of k —
  * the building block of exact-substring dedup
  * ([[graft.operators.Dedup.duplicatedSpans]]). The hash only needs to
  * be COMPLETE (equal windows ⇒ equal hashes — immediate, both sides
  * are a function of the window's tokens); rare collisions are removed
  * by the caller's exact-text verify. Tokenization matches
  * `split(trim(text), "\\s+")` exactly, so callers can reconstruct
  * window text with `slice` over the same token array.
  */
case class TokenWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {
  require(k >= 1, "window size must be >= 1")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_window_hashes"

  private final val M = (1L << 61) - 1
  private final val B = 1000003L
  // B^(k-1) mod M — the weight of the outgoing token in the rolling update
  private lazy val Bk: Long = {
    var r = 1L; var i = 1
    while (i < k) { r = mulmod(r, B); i += 1 }
    r
  }

  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var res = (lo & M) + ((lo >>> 61) | (hi << 3))
    if (res >= M) res -= M
    res
  }

  override def nullSafeEval(input: Any): Any = {
    // tokenize EXACTLY like split(trim(text), "\s+") in SQL: trim strips
    // ASCII spaces only (Java's String.trim also eats tabs/newlines) and
    // split keeps trailing empty tokens (limit -1; Java's default drops
    // them) — a mismatch here desyncs window positions from the
    // verify/oracle side, which slices the SQL-tokenized array
    val s0 = input.asInstanceOf[UTF8String].toString
    var st = 0
    var en = s0.length
    while (st < en && s0.charAt(st) == ' ') st += 1
    while (en > st && s0.charAt(en - 1) == ' ') en -= 1
    val words = s0.substring(st, en).split("\\s+", -1)
    if (words.length < k) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      // 61-bit token value; xx mod M keeps the polynomial arithmetic exact
      val xx = XxHash64Function.hash(UTF8String.fromString(words(i)), StringType, 11L)
      th(i) = java.lang.Long.remainderUnsigned(xx, M)
      i += 1
    }
    val out = new Array[Long](words.length - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = mulmod(h, B) + th(i); if (h >= M) h -= M; i += 1 }
    out(0) = h
    i = k
    while (i < words.length) {
      h = h + M - mulmod(th(i - k), Bk); if (h >= M) h -= M
      h = mulmod(h, B) + th(i); if (h >= M) h -= M
      out(i - k + 1) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hashes of all
  * byte k-grams, reduced by taking the minimum in each sliding window
  * of w consecutive k-gram hashes. Output is the distinct, sorted set —
  * a compact, position-robust document signature.
  *
  * Gram hash is the Karp–Rabin polynomial over the gram's UTF-8 bytes
  * (B=257 mod M=2^61−1 — the same basis as [[RollingHash]], and the
  * hash family the winnowing paper itself builds on), computed with the
  * O(n) rolling update so a document costs O(bytes) regardless of k.
  * The polynomial basis makes the whole fingerprint ENGINE-PORTABLE:
  * a SQL engine reproduces each gram hash as a k-term Horner expression
  * over byte values (for k ≤ 7 and ASCII text the value stays below M,
  * so not even the modulus is needed) — which is exactly how q36's
  * DuckDB oracle pins this expression, where the previous xxHash64
  * basis was irreproducible outside Spark.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  private final val M = (1L << 61) - 1
  private final val B = 257L
  // B^(k-1) mod M — the weight of the outgoing byte in the rolling update
  private lazy val Bk: Long = {
    var r = 1L; var i = 1
    while (i < k) { r = mulmod(r, B); i += 1 }
    r
  }

  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var res = (lo & M) + ((lo >>> 61) | (hi << 3))
    if (res >= M) res -= M
    res
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.length < k) return new GenericArrayData(Array.empty[Long])
    val grams = new Array[Long](bytes.length - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = mulmod(h, B) + (bytes(i) & 0xffL); if (h >= M) h -= M; i += 1 }
    grams(0) = h
    i = k
    while (i < bytes.length) {
      h = h + M - mulmod(bytes(i - k) & 0xffL, Bk); if (h >= M) h -= M
      h = mulmod(h, B) + (bytes(i) & 0xffL); if (h >= M) h -= M
      grams(i - k + 1) = h
      i += 1
    }
    val picked = scala.collection.mutable.SortedSet.empty[Long]
    var j = 0
    while (j + w <= grams.length) {
      var m = grams(j); var t = j + 1
      while (t < j + w) { if (grams(t) < m) m = grams(t); t += 1 }
      picked += m
      j += 1
    }
    if (picked.isEmpty) picked += grams.min
    new GenericArrayData(picked.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word n-gram shingles of a whitespace-tokenized string.
  *
  * Equivalent to split + transform(sequence, concat_ws) + array_distinct,
  * but tokenizes exactly once per row — the composed higher-order-function
  * form re-evaluates the split inside every lambda invocation (interpreted,
  * ~200 regex splits per document), which dominated the near-dup pipeline.
  * First-occurrence order is preserved, matching `array_distinct`.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {
  require(n >= 1, "shingle size must be >= 1")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.trim.split("\\s+")
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= words.length) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray())
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature of a shingle set, as one expression evaluation.
  *
  * Each shingle is hashed ONCE (xxHash64); the `numHashes` signature
  * slots use cheap splitmix64 re-mixes of that base hash — the standard
  * universal-hashing construction from the MinHash literature. Compared
  * to the explode + 64×`min(hash(shingle, seed))` aggregate formulation,
  * this avoids re-hashing the full shingle string per slot AND the
  * explode/groupBy shuffle entirely: the signature is computed where the
  * document row already lives (map-side, embarrassingly parallel — the
  * only scalable shape at 100 TB).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {
  require(numHashes >= 1 && numHashes <= 1024, "numHashes must be in [1,1024]")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val base = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < numHashes) {
          // splitmix64 of (base ^ slot-tweak): cheap, well-mixed per slot
          var z = base ^ (j * 0x9E3779B97F4A7C15L)
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^= (z >>> 31)
          if (z < sig(j)) sig(j) = z
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** BPE subword encoding of a whitespace-tokenized string against a FIXED,
  * trained merge table (Sennrich et al. 2016, word-internal variant with
  * an end-of-word marker): each word starts as its characters plus
  * `</w>`, then the lowest-rank merge present in the word fuses all its
  * occurrences, repeating until no merge applies — the standard greedy
  * encode. The merge table is a constructor argument, so it serializes
  * with the plan and rides to every executor once; encoding is pure
  * map-side compute with no lookup join. Output is the document's
  * subword pieces in order, words concatenated.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  // pair -> application rank; the ' ' separator cannot occur inside a symbol (symbols
  // come from whitespace-split words), so the joined key is unambiguous
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, Int.box(i))
    }
    m
  }

  private def encodeWord(w: String, out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    var syms = new Array[String](w.length + 1)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    syms(w.length) = BpeEncode.EndOfWord
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank pair present in the word
      var bestRank = Int.MaxValue
      var j = 0
      while (j + 1 < syms.length) {
        val r = rank.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val joined = a + b
        val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var k = 0
        while (k < syms.length) {
          if (k + 1 < syms.length && syms(k) == a && syms(k + 1) == b) {
            next += joined; k += 2
          } else { next += syms(k); k += 1 }
        }
        syms = next.toArray
      }
    }
    var t = 0
    while (t < syms.length) { out += UTF8String.fromString(syms(t)); t += 1 }
  }

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString.trim.split("\\s+")
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) encodeWord(words(i), out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BpeEncode {
  /** End-of-word marker symbol (the paper's `</w>`). */
  final val EndOfWord = "</w>"
}

/** Random-hyperplane LSH signature of a float vector (Charikar, STOC'02).
  *
  * Bit b is the sign of ⟨v, r_b⟩ where r_b is a deterministic ±1
  * pseudo-random hyperplane derived from murmur3(b, dim). Vectors with
  * small angle agree on most bits, so equal signatures bucket candidates
  * for approximate nearest-neighbor search.
  */
case class HyperplaneSignature(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes with RefCallCodegen {
  require(bits >= 1 && bits <= 64, "bits must be in [1,64]")

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_signature"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var d = 0
      while (d < v.numElements()) {
        dot += v.getFloat(d).toDouble * HyperplaneSignature.plane(b, d)
        d += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HyperplaneSignature {
  private final val MaxCachedBits = 64
  private final val MaxCachedDims = 1024

  /** Plane components are pure functions of (bit, dim); precompute the
    * common range once per JVM so signature evaluation is a table lookup
    * (the hash-per-component version dominated ANN bucketing time). */
  private lazy val cached: Array[Array[Double]] =
    Array.tabulate(MaxCachedBits, MaxCachedDims)(planeUncached)

  private def planeUncached(bit: Int, dim: Int): Double = {
    import scala.util.hashing.MurmurHash3
    val h = MurmurHash3.finalizeHash(
      MurmurHash3.mix(MurmurHash3.mix(0x9747b28c, bit), dim), 2)
    if ((h & 1) == 0) 1.0 else -1.0
  }

  /** Deterministic ±1 hyperplane component for (bit, dim). */
  def plane(bit: Int, dim: Int): Double =
    if (bit < MaxCachedBits && dim < MaxCachedDims) cached(bit)(dim)
    else planeUncached(bit, dim)
}

/** Jaro–Winkler similarity of two strings (Winkler 1990) — the
  * record-linkage standard for short names: Jaro's match/transposition
  * score, boosted toward 1 for strings sharing a common prefix (≤ 4
  * chars, scale 0.1), with the boost applied only when the base Jaro
  * score exceeds 0.7 (Winkler's "boost threshold" — the variant DuckDB,
  * Apache Commons Text, and the published record-linkage literature
  * agree on, verified value-for-value against DuckDB's
  * `jaro_winkler_similarity`).
  *
  * Codegen emits a reference call (the [[RefCallCodegen]] pattern, here
  * for a binary expression): the containing projection keeps its
  * whole-stage span and only this value crosses one JIT-compiled call.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  /** Public bridge so generated Java reaches the protected eval. */
  final def evalBridge(a: Any, b: Any): Any = nullSafeEval(a, b)

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jwExpr", this, classOf[JaroWinkler].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ((java.lang.Double) $ref.evalBridge($a, $b)).doubleValue();")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {
  private final val BoostThreshold = 0.7
  private final val PrefixScale = 0.1
  private final val MaxPrefix = 4

  def similarity(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val n1 = s1.length; val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(math.max(n1, n2) / 2 - 1, 0)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var matches = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(i + window + 1, n2)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars compared in order, halved
    var t = 0; var k = 0; i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val m = matches.toDouble
    val jaro = (m / n1 + m / n2 + (m - half) / m) / 3.0
    if (jaro <= BoostThreshold) return jaro
    var l = 0
    val maxL = math.min(MaxPrefix, math.min(n1, n2))
    while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + l * PrefixScale * (1.0 - jaro)
  }
}

/** Banded (Ukkonen 1985) edit distance with an early exit: returns the
  * exact Levenshtein distance when it is ≤ `k`, and the sentinel `k+1`
  * otherwise. The DP visits only the 2k+1-wide diagonal band — O(k·n)
  * work and O(m) memory instead of the full O(n·m) matrix — and bails
  * the moment a whole band row exceeds k, so far-apart strings (the
  * overwhelming majority in any fuzzy join's verify step) cost a
  * length check plus at most a few band rows. Semantics contract:
  * `bounded_levenshtein(a, b, k) <= k  ⟺  levenshtein(a, b) <= k`,
  * with equal values in that range — verified against Spark's built-in
  * by a randomized law.
  */
case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(k >= 0, s"k must be >= 0: $k")

  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bounded_levenshtein"

  /** Public bridge so generated Java reaches the protected eval. */
  final def evalBridge(a: Any, b: Any): Any = nullSafeEval(a, b)

  override def nullSafeEval(a: Any, b: Any): Any =
    BoundedLevenshtein.distance(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blExpr", this,
      classOf[BoundedLevenshtein].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ((java.lang.Integer) $ref.evalBridge($a, $b)).intValue();")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BoundedLevenshtein {
  def distance(s1: String, s2: String, k: Int): Int = {
    val n = s1.length; val m = s2.length
    if (math.abs(n - m) > k) return k + 1
    if (n == 0) return m
    if (m == 0) return n
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val from = math.max(1, i - k)
      val to = math.min(m, i + k)
      // the band reads one cell left of it in this row and the next row
      // reads one cell right of it: reset those two, not the whole row
      if (from == 1) cur(0) = (if (i <= k) i else inf)
      else cur(from - 1) = inf
      if (to < m) cur(to + 1) = inf
      var best = inf
      var jj = from
      while (jj <= to) {
        val cost = if (s1.charAt(i - 1) == s2.charAt(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = cur(jj - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(jj) = v
        if (v < best) best = v
        jj += 1
      }
      if (best >= inf) return inf // the whole band exceeded k
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(m), inf)
  }
}
