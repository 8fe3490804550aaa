package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the per-row hot loops of the dedup /
  * similarity suite. Spark's higher-order functions (transform/aggregate/
  * zip_with) evaluate their lambdas interpreted — per-element virtual
  * dispatch and boxing — which made the HOF formulations dominate the
  * benchmark. These expressions do the same math in tight primitive
  * loops inside whole-stage codegen ([[Expressions.UnaryKernel]],
  * [[Expressions.BinaryKernel]]), turning signature computation back
  * into a scan-speed narrow transform.
  */
object Expressions {

  /** splitmix64 — deterministic per-index constants for hash families. */
  private[functions] def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit hash of a string's UTF-8 bytes: the value of the first 15 hex
    * digits of its md5 — i.e. the first 8 digest bytes read big-endian,
    * shifted right 4. Chosen over xxhash64 for the signature families
    * because ANY SQL engine with an md5() function can rebuild it exactly
    * (Spark: conv(substring(md5(x),1,15),16,10); DuckDB: nibble decode of
    * the hex string), which is what lets the minhash/simhash pair sets be
    * verified against an independent oracle. 60 bits keeps every derived
    * value positive in a signed BIGINT, so `>>` and `%` agree across
    * engines with no sign traps.
    */
  private[functions] def md5_60(s: UTF8String): Long = {
    val d = md5Local.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** The kernel contract of a one-input expression: the concrete class
    * defines `compute`, a tight primitive loop over the non-null input,
    * and both evaluation paths call it. Instead of CodegenFallback —
    * which knocks the WHOLE operator out of whole-stage codegen — the
    * generated code calls the concrete class's own compiled `compute`
    * through `ctx.addReferenceObj` (typed as the concrete class, so Java
    * binds the primitive-returning overload, not the erased bridge). The
    * loop runs as plain JIT-compiled bytecode, the surrounding projection
    * stays inside the WholeStageCodegen span, and the interpreted
    * `nullSafeEval` runs the same `compute`. Null input yields null.
    */
  trait UnaryKernel[I, O] extends UnaryExpression {
    def compute(input: I): O

    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[I])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** [[UnaryKernel]]'s contract for two inputs: `compute(left, right)`,
    * null when either input is null.
    */
  trait BinaryKernel[L, R, O] extends BinaryExpression {
    def compute(left: L, right: R): O

    override def nullSafeEval(left: Any, right: Any): Any =
      compute(left.asInstanceOf[L], right.asInstanceOf[R])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
    }
  }

  /** The value of the first `nibbles` hex digits of md5(input) — the
    * codegen'd twin of `conv(substring(md5(x), 1, nibbles), 16, 10)`,
    * which Catalyst evaluates through hex-encode / substring / radix-conv
    * string machinery at ~7 us/row; this computes the same long straight
    * off the digest bytes. Every cross-engine hash derivation (HLL/CMS
    * registers, span keys, split buckets) funnels through the same
    * md5-prefix construction, so the oracle side stays the established
    * nibble-decode SQL while the Spark side runs at scan speed.
    */
  case class Md5Bits(child: Expression, nibbles: Int)
      extends UnaryKernel[UTF8String, Long] with ExpectsInputTypes {
    require(nibbles >= 1 && nibbles <= 15, "1..15 hex digits fit a signed long")
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "md5_bits"

    def compute(s: UTF8String): Long = {
      val d = md5Local.get().digest(s.getBytes)
      var v = 0L
      var i = 0
      while (i < nibbles) {
        val nib = if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf else d(i >> 1) & 0xf
        v = (v << 4) | nib
        i += 1
      }
      v
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The minhash permutation family over the 60-bit md5 hash space, shared
    * by [[MinHashSignature]] and the oracle-SQL generator so both engines
    * compute component j of a shingle set as
    * `min over shingles of perm_j(md5_60(shingle))`.
    *
    * perm_j is a bijection of [0, 2^60): an affine map with an odd
    * multiplier mod 2^60 (invertible), then xorshift / odd-multiply /
    * xorshift avalanche steps (each bijective). Every step is exact in
    * plain SQL: the wrapping multiplies are `(x * a) % 2^60` — DuckDB runs
    * them in HUGEINT; the JVM's wrapping 64-bit multiply masked to 60 bits
    * is the same value — and all intermediates stay positive.
    */
  object MinHashFamily {
    val Mod: Long = 1L << 60
    val Mask: Long = Mod - 1L
    /** Final odd avalanche multiplier (a 60-bit truncation of the
      * splitmix64 finalizer constant). */
    val Fin: Long = (0x94d049bb133111ebL & Mask) | 1L
    def mixA(j: Int): Long = (splitmix64(2L * j + 1) & Mask) | 1L
    def mixB(j: Int): Long = splitmix64(2L * j + 2) & Mask
    def component(h: Long, a: Long, b: Long): Long = {
      var z = (h * a + b) & Mask
      z ^= (z >>> 30)
      z = (z * Fin) & Mask
      z ^ (z >>> 31)
    }
  }

  /** Sequential double-precision dot product over two float vectors.
    * Accumulation order is left-to-right, matching the HOF formulation
    * and the DuckDB oracle exactly (bit-identical).
    */
  case class FloatVectorDot(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Double] {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_vector_dot"

    def compute(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var s = 0d
      var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Exact BIGINT dot product over two long vectors (micro-unit
    * quantized embeddings). Pure 64-bit integer accumulation — the
    * caller owns the overflow bound (|q| ≤ 5·10^5 per component keeps
    * d ≤ 10^7 safe). Codegen'd so pair-scoring loops (margin mining,
    * quantized re-ranking) stay inside whole-stage codegen instead of
    * the interpreted zip_with/aggregate HOF path.
    */
  case class LongVectorDot(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Long] {
    override def dataType: DataType = LongType
    override def prettyName: String = "long_vector_dot"

    def compute(x: ArrayData, y: ArrayData): Long = {
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 32 sign bits of a float vector packed into a long: bit i is set
    * iff vec[start+i] >= 0 (positions past the end contribute 0). Two
    * words cover a 64-dim embedding; the 1-bit-per-dimension code is
    * the asymmetric-distance binary quantization used for Hamming
    * pre-filtering (32x smaller than the float vector — the shuffle-
    * width lever for a 100 TB ANN candidate stage). 32 bits per word,
    * not 64, so the packed value stays positive and the DuckDB oracle
    * can rebuild it in BIGINT arithmetic without sign wrap.
    */
  case class SignBitsPacked(child: Expression, start: Int)
      extends UnaryKernel[ArrayData, Long] {
    override def dataType: DataType = LongType
    override def prettyName: String = "sign_bits_packed"

    def compute(x: ArrayData): Long = {
      val n = x.numElements()
      var s = 0L
      var i = 0
      while (i < 32) {
        val pos = start + i
        if (pos < n && x.getFloat(pos) >= 0f) s |= 1L << i
        i += 1
      }
      s
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Hamming distance between two packed sign-bit codes (long arrays):
    * sum of popcount(a XOR b) over the word pairs. Codegen'd so the
    * candidate-generation loop of a binary-quantized ANN stays inside
    * whole-stage codegen (popcount is a single instruction; the whole
    * distance is a handful of cycles vs ~128 float ops for the cosine
    * it pre-filters). Mismatched code lengths fail loudly: comparing a
    * 2-word code to a 3-word code is a caller bug (codes from different
    * packers), and a silent prefix distance would quietly corrupt every
    * downstream ranking.
    */
  case class HammingPacked(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Int] {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hamming_packed"

    def compute(x: ArrayData, y: ArrayData): Int = {
      val n = x.numElements()
      if (n != y.numElements())
        throw new IllegalArgumentException(
          s"hamming_packed: code length mismatch ($n vs ${y.numElements()} words)")
      var s = 0
      var i = 0
      while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
      s
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** k-component MinHash signature of a string array: component j is the
    * minimum of [[MinHashFamily]] permutation j over the md5-derived
    * 60-bit element hashes. One pass per element; element bytes hashed
    * ONCE (md5), then the k permutations are cheap affine+avalanche mixes.
    * The md5 base + mod-2^60 arithmetic make every component rebuildable
    * by an independent SQL oracle — see MinHashFamily.
    */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(k > 0 && k <= 1024)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    private val mixA: Array[Long] = Array.tabulate(k)(MinHashFamily.mixA)
    private val mixB: Array[Long] = Array.tabulate(k)(MinHashFamily.mixB)

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val h = Expressions.md5_60(s)
          var j = 0
          while (j < k) {
            val z = MinHashFamily.component(h, mixA(j), mixB(j))
            if (z < mins(j)) mins(j) = z
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 60-bit SimHash of a string-array (bag of tokens): per token one
    * md5-derived 60-bit hash ([[Expressions.md5_60]]), then +-1 per bit
    * position; bit set where the sum is positive. 60 bits rather than 64
    * so an independent SQL oracle can rebuild the signature from md5()
    * with per-bit SUMs — bit j is set iff 2 * count(tokens with bit j)
    * exceeds the token count — and every signature stays positive in a
    * signed BIGINT.
    */
  case class SimHash60(child: Expression)
      extends UnaryKernel[ArrayData, Long] {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash60"

    def compute(arr: ArrayData): Long = {
      val n = arr.numElements()
      val sums = new Array[Int](60)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val h = Expressions.md5_60(s)
          var j = 0
          while (j < 60) {
            if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
            j += 1
          }
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 60) { if (sums(j) > 0) out |= (1L << j); j += 1 }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Word n-gram shingles of a token array: distinct space-joined n-grams;
    * arrays shorter than n yield the whole join as one shingle. Replaces a
    * transform(sequence…, slice…) HOF chain.
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"

    def compute(arr: ArrayData): ArrayData = {
      val cnt = arr.numElements()
      val toks = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) {
        val s = arr.getUTF8String(i)
        toks(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
        i += 1
      }
      val sep = UTF8String.fromString(" ")
      val out = new java.util.LinkedHashSet[UTF8String]()
      if (cnt < n) {
        out.add(UTF8String.concatWs(sep, toks: _*))
      } else {
        var j = 0
        while (j + n <= cnt) {
          out.add(UTF8String.concatWs(sep, java.util.Arrays.copyOfRange(toks, j, j + n): _*))
          j += 1
        }
      }
      new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Random-hyperplane LSH signatures for a float vector: `bands`
    * independent `bits`-bit signatures, bit i of band b = sign of the dot
    * product with a Gaussian plane drawn from Random(seed + b). All
    * bands x bits planes live in the expression (model constants, not
    * plan literals) — one tight loop per row replaces bands x bits
    * separate literal-array dot expressions, which bloated planning and
    * codegen far beyond the actual math.
    */
  case class HyperplaneSignatures(child: Expression, dim: Int, bits: Int,
                                  bands: Int, seed: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(dim > 0 && bits > 0 && bits <= 63 && bands > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hyperplane_signatures"

    // flat [bits * dim] per band for locality; identical draw order to a
    // per-band Array.fill(bits)(Array.fill(dim)(nextGaussian)) codebook
    @transient private lazy val planes: Array[Array[Float]] = Array.tabulate(bands) { b =>
      val rng = new scala.util.Random(seed + b)
      Array.fill(bits * dim)(rng.nextGaussian().toFloat)
    }

    def compute(v: ArrayData): ArrayData = {
      val n = math.min(dim, v.numElements())
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        val pl = planes(b)
        var sig = 0L
        var i = 0
        while (i < bits) {
          val off = i * dim
          var s = 0d
          var j = 0
          while (j < n) { s += v.getFloat(j).toDouble * pl(off + j); j += 1 }
          if (s > 0) sig |= (1L << i)
          i += 1
        }
        out(b) = sig
        b += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Count of positions where two long-array signatures agree — the
    * MinHash Jaccard estimator's numerator. Replaces a
    * size(filter(zip_with(...))) HOF chain whose lambdas evaluate
    * interpreted per element.
    */
  case class SignatureAgreement(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Long] {
    override def dataType: DataType = LongType
    override def prettyName: String = "signature_agreement"

    def compute(a: ArrayData, b: ArrayData): Long = {
      val n = math.min(a.numElements(), b.numElements())
      var agree = 0L
      var i = 0
      while (i < n) { if (a.getLong(i) == b.getLong(i)) agree += 1; i += 1 }
      agree
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Count of common DISTINCT values of two SORTED long arrays — the
    * set-similarity verifier's |A∩B|, computed as one merge walk with
    * no allocation. Replaces `size(array_intersect(a, b))`, which
    * builds a hash set over one side, materializes the whole
    * intersection array, and then throws it away for its length — the
    * r17 setsim profile put stage 3 (verification) at 1.3-1.7 s of the
    * query's ~2.9 s, most of it in exactly that detour. Duplicate
    * values are skipped on both sides, so the count equals
    * `array_intersect` size semantics even on non-distinct input;
    * UNSORTED input is a CONTRACT VIOLATION (undefined count), which is
    * why the wrapper lives next to the sort_array producers and the
    * name says sorted.
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Long] with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_intersect_count"

    def compute(a: ArrayData, b: ArrayData): Long = {
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var n = 0L
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) {
          n += 1
          // skip duplicates so the count is over DISTINCT common values
          i += 1; while (i < na && a.getLong(i) == x) i += 1
          j += 1; while (j < nb && b.getLong(j) == y) j += 1
        } else if (x < y) i += 1
        else j += 1
      }
      n
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** All strictly-ordered (a < b) pairs of a long-id array — the
    * bucket-local candidate generator for LSH. `collect_list` + this +
    * `explode` replaces a window count + self-join for within-bucket
    * pair generation: ONE shuffle builds the buckets and candidate
    * pairs stream out of a narrow generate, instead of a second
    * sort+join pass over the bucket table. Equal-valued ids (a bucket
    * holding the same id twice) emit no self-pair, matching the strict
    * `a.id < b.id` self-join this replaces. Output size is at most
    * n*(n-1)/2, bounded by the caller's maxBucket guard; n is validated
    * against the sizing overflow since maxBucket is caller-settable.
    */
  case class SortedIdPairs(child: Expression)
      extends UnaryKernel[ArrayData, ArrayData] with ExpectsInputTypes {
    // wrong-typed callers must fail at analysis time, not be silently
    // misread through ArrayData.getLong
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "sorted_id_pairs"

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      // n*(n-1)/2 must stay an Int for the output array
      require(n <= 65535,
        s"sorted_id_pairs: bucket of $n ids would fan out ${n.toLong * (n - 1) / 2} pairs; cap the bucket size first")
      val ids = new Array[Long](n)
      var i = 0
      while (i < n) { ids(i) = arr.getLong(i); i += 1 }
      java.util.Arrays.sort(ids)
      val out = new Array[Any](n * (n - 1) / 2)
      var k = 0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          if (ids(i) != ids(j)) { out(k) = InternalRow(ids(i), ids(j)); k += 1 }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(if (k == out.length) out
        else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-document n-gram repetition statistics in one tight loop:
    * (total, n_distinct, top_freq) over OVERLAPPING word n-grams — NOT
    * deduplicated; [[WordShingles]] dedupes by design, and repetition is
    * exactly the multiplicity shingling throws away. The Gopher-style
    * duplicate-n-gram and top-n-gram quality filters derive from these
    * three integers with engine-exact arithmetic (integer subtraction +
    * one IEEE division), so the whole signal stays oracle-matchable.
    * Documents shorter than n words report (0, 0, 0).
    */
  case class NgramStats(child: Expression, n: Int)
      extends UnaryKernel[ArrayData, InternalRow] with ExpectsInputTypes {
    require(n >= 1, "n-gram order must be at least 1")
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = StructType(Seq(
      StructField("total", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("top_freq", LongType, nullable = false)))
    override def prettyName: String = "ngram_stats"

    private val space = UTF8String.fromString(" ")

    def compute(arr: ArrayData): InternalRow = {
      val len = arr.numElements()
      val total = len - n + 1
      if (total <= 0) return InternalRow(0L, 0L, 0L)
      val toks = new Array[UTF8String](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i); i += 1 }
      val counts = new java.util.HashMap[UTF8String, Integer](total * 2)
      i = 0
      while (i < total) {
        var g = toks(i)
        var j = 1
        while (j < n) { g = UTF8String.concat(g, space, toks(i + j)); j += 1 }
        counts.merge(g, 1, (a, b) => a + b)
        i += 1
      }
      var top = 0
      val it = counts.values().iterator()
      while (it.hasNext) { val c = it.next(); if (c > top) top = c }
      InternalRow(total.toLong, counts.size.toLong, top.toLong)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Verified SimHash pairs of an array<struct<id:long, h:long>> bucket:
    * all (a < b) id pairs whose simhashes are within `maxHamming` bits.
    * The hamming verify runs inside the generation loop, so only
    * surviving pairs are ever materialized — with `collect_list` +
    * `explode` this folds bucket build, pair generation, AND the
    * verify join of the window+self-join formulation into one shuffle.
    */
  case class SimhashIdPairs(child: Expression, maxHamming: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(maxHamming >= 0)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))), containsNull = false)
    override def prettyName: String = "simhash_id_pairs"

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val ids = new Array[Long](n)
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        val row = arr.getStruct(i, 2)
        ids(i) = row.getLong(0)
        hs(i) = row.getLong(1)
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val d = java.lang.Long.bitCount(hs(i) ^ hs(j))
          if (d <= maxHamming && ids(i) != ids(j)) {
            val a = math.min(ids(i), ids(j))
            val b = math.max(ids(i), ids(j))
            out += InternalRow(a, b, d)
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Bit-interleaved Z-order value over pre-scaled non-negative integer
    * coordinates (an array<bigint>, so the probe stays a simple unary
    * codegen'd expression — the builtin `array()` wrapper is codegen'd
    * too): bit b of coordinate i lands at output position
    * b * nCols + i, so files range-sorted by the result are clustered
    * in ALL dimensions at once — parquet min/max (and partition-level)
    * skipping then prunes multi-column predicates, not just the leading
    * sort key. Callers scale each column to [0, 2^bits) first (see
    * `Layout.zOrdered`); nCols * bits must stay under 64.
    */
  case class ZValue(child: Expression, nCols: Int, bits: Int)
      extends UnaryKernel[ArrayData, Long] with ExpectsInputTypes {
    require(bits >= 1 && nCols >= 1 && nCols * bits <= 63,
      "z-value needs 1..63 total output bits")
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "z_value"

    def compute(arr: ArrayData): Long = {
      require(arr.numElements() == nCols,
        s"z_value: expected $nCols coordinates, got ${arr.numElements()}")
      // null coordinates cluster at the origin (0) — explicitly, not via
      // whatever a null slot happens to read as in a given ArrayData
      // implementation; matches Layout.zColumn, whose greatest(null, 0)
      // already maps a null input to 0
      var z = 0L
      var b = 0
      while (b < bits) {
        var i = 0
        while (i < nCols) {
          val c = if (arr.isNullAt(i)) 0L else arr.getLong(i)
          z |= ((c >>> b) & 1L) << (b * nCols + i)
          i += 1
        }
        b += 1
      }
      z
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 2-D Hilbert curve index of a scaled coordinate pair [x, y] (each
    * in [0, 2^bits)): the xy2d quadrant walk — per level, the quadrant
    * pair (rx, ry) contributes s²·((3·rx) XOR ry) and the sub-quadrant
    * coordinates are masked, reflected and swapped per the standard
    * rotation. The masked formulation keeps every intermediate
    * non-negative, so a SQL oracle replays the identical rounds in
    * plain BIGINT case-arithmetic. vs [[ZValue]]: same skip-index use
    * (sort by the value, write, prune by min/max), but consecutive
    * Hilbert addresses are always grid-adjacent (Z-order jumps at
    * quadrant seams), so range predicates touch fewer files at the
    * same file count — the locality upgrade is free at write time.
    * Null coordinates cluster at the origin, matching ZValue.
    */
  case class HilbertValue(child: Expression, bits: Int)
      extends UnaryKernel[ArrayData, Long] with ExpectsInputTypes {
    require(bits >= 1 && 2 * bits <= 62, "hilbert needs 1..31 bits per axis")
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "hilbert_value"

    def compute(arr: ArrayData): Long = {
      require(arr.numElements() == 2,
        s"hilbert_value: expected 2 coordinates, got ${arr.numElements()}")
      var x = if (arr.isNullAt(0)) 0L else arr.getLong(0)
      var y = if (arr.isNullAt(1)) 0L else arr.getLong(1)
      var d = 0L
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        x &= s - 1
        y &= s - 1
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Hash-aggregable argmax: the `value` of the row with the greatest
    * `ord`; among ord-ties, the row with the SMALLEST `tie` (nulls
    * first, matching an `ORDER BY ord DESC, tie ASC NULLS FIRST`
    * window) — so a keep-best dedup gets "highest quality, ties to the
    * smallest id" for ANY orderable id type, string ids included,
    * without negation tricks that silently null out on non-numeric
    * columns. The built-in declarative max_by keeps a struct in its
    * aggregation buffer, which HashAggregate cannot hold (structs
    * aren't mutable buffer types), so Spark silently plans
    * SortAggregate — a per-partition sort on both the partial and final
    * sides. This TypedImperativeAggregate buffers the best
    * (value, ord, tie) triple as one UnsafeRow, so the planner picks
    * ObjectHashAggregate: hash-based, map-side combinable, sort-free —
    * the argmax a keep-best dedup runs over every content key of a
    * 100 TB corpus.
    *
    * One runtime caveat to carry to a real deployment:
    * ObjectHashAggregate falls back to sort-based processing after
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * distinct keys per task (default 128 — sized for huge object
    * buffers like collect_list's). This buffer is ONE row, so raise the
    * threshold generously when tasks carry many groups; at the default
    * the plan is hash-flavored but high-cardinality tasks quietly sort
    * their tail. The session profile (`graft.Bench.session`) sets it
    * to 1e6.
    *
    * Null `ord` loses to any non-null value (DESC NULLS LAST, the
    * window semantics this replaces), so an all-null group still keeps
    * exactly one row, chosen by the tie field. The 2-arg form
    * (tie = constant) keeps ord-ties caller-defined, i.e. an
    * arbitrary-but-valid survivor.
    */
  case class MaxByRow(value: Expression, ord: Expression,
                      tie: Expression = org.apache.spark.sql.catalyst.expressions.Literal(0),
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
        org.apache.spark.sql.catalyst.expressions.UnsafeRow] {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.expressions.RowOrdering
      if (!RowOrdering.isOrderable(ord.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"max_by_row ordering type ${ord.dataType.sql} is not orderable")
      else if (!RowOrdering.isOrderable(tie.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"max_by_row tie-break type ${tie.dataType.sql} is not orderable")
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    }

    override def children: Seq[Expression] = Seq(value, ord, tie)
    override def dataType: DataType = value.dataType
    override def nullable: Boolean = true
    override def prettyName: String = "max_by_row"

    @transient private lazy val bufTypes = Array(value.dataType, ord.dataType, tie.dataType)
    @transient private lazy val toUnsafe = UnsafeProjection.create(bufTypes)
    @transient private lazy val ordering =
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(ord.dataType)
    @transient private lazy val tieOrdering =
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(tie.dataType)

    /** True when the (o, t) candidate should replace the buffer: greater
      * ord wins, null ord smaller than any value (DESC NULLS LAST);
      * equal ord falls to smaller tie, null tie smallest (ASC NULLS
      * FIRST).
      */
    private def beats(o: Any, t: Any, buffer: UnsafeRow): Boolean = {
      val bo = buffer.get(1, ord.dataType)
      val cmp =
        if (o == null && bo == null) 0
        else if (o == null) -1
        else if (bo == null) 1
        else ordering.compare(o, bo)
      if (cmp != 0) return cmp > 0
      val bt = buffer.get(2, tie.dataType)
      if (t == null) bt != null
      else if (bt == null) false
      else tieOrdering.compare(t, bt) < 0
    }

    override def createAggregationBuffer(): UnsafeRow = null

    override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
      val o = ord.eval(input)
      val t = tie.eval(input)
      if (buffer == null || beats(o, t, buffer)) {
        val v = value.eval(input)
        // copy(): the projection's backing buffer is reused per input row
        toUnsafe(new GenericInternalRow(Array[Any](v, o, t))).copy()
      } else buffer
    }

    override def merge(a: UnsafeRow, b: UnsafeRow): UnsafeRow =
      if (a == null) b
      else if (b == null) a
      else if (beats(b.get(1, ord.dataType), b.get(2, tie.dataType), a)) b
      else a

    override def eval(buffer: UnsafeRow): Any =
      if (buffer == null) null else buffer.get(0, value.dataType)

    override def serialize(buffer: UnsafeRow): Array[Byte] =
      if (buffer == null) Array.emptyByteArray else buffer.getBytes

    override def deserialize(bytes: Array[Byte]): UnsafeRow =
      if (bytes.isEmpty) null
      else {
        val row = new UnsafeRow(3)
        row.pointTo(bytes, bytes.length)
        row
      }

    override def withNewMutableAggBufferOffset(newOffset: Int): MaxByRow =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MaxByRow =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(value = c(0), ord = c(1), tie = c(2))
  }

  /** Schema-pinned DOM extraction: parse the HTML ONCE per row (the
    * lenient [[Html]] parser), then evaluate every (selector, attr?)
    * spec against the tree — first match in document order, attribute
    * value or trimmed descendant text, null when nothing matches (the
    * reference's per-field try/except). One expression per page keeps
    * the parse cost amortized across all extracted fields, unlike a
    * per-field regexp battery which rescans the string per field.
    * Selectors are parsed at plan construction (analysis-time failure
    * on bad syntax, zero per-row parsing).
    */
  case class HtmlExtract(child: Expression,
                         specs: Seq[(String, String, Option[String])])
      extends UnaryKernel[UTF8String, InternalRow] with ExpectsInputTypes {
    require(specs.nonEmpty, "html_extract needs at least one field spec")
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StructType(
      specs.map { case (name, _, _) => StructField(name, StringType, nullable = true) })
    override def prettyName: String = "html_extract"

    // selector parse errors surface at construction, not per row
    @transient private lazy val parsed: Seq[(List[(Html.Simple, Boolean)], Option[String])] =
      specs.map { case (_, sel, attr) => (Html.parseSelector(sel), attr) }
    parsed.length // force at construction

    def compute(s: UTF8String): InternalRow = {
      val root = Html.parse(s.toString)
      val out = new Array[Any](specs.length)
      var i = 0
      while (i < specs.length) {
        val (chain, attr) = parsed(i)
        val hits = Html.selectParsed(root, chain)
        out(i) =
          if (hits.isEmpty) null
          else attr match {
            case Some(a) => hits.head.attr(a).map(UTF8String.fromString).orNull
            case None    =>
              val t = hits.head.text.trim
              UTF8String.fromString(t)
          }
        i += 1
      }
      InternalRow(out: _*)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Whole-page visible-text extraction — the HTML→text step at the
    * head of a web training-data pipeline. One parse per page, then
    * [[Html.visibleText]]: text nodes outside script/style in document
    * order, whitespace-collapsed. Scoped extraction (main-content
    * selectors) is [[HtmlExtract]]'s job; this is the page-level
    * default when no template knowledge exists.
    */
  case class HtmlToText(child: Expression)
      extends UnaryKernel[UTF8String, UTF8String] with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "html_to_text"

    def compute(s: UTF8String): UTF8String =
      UTF8String.fromString(Html.visibleText(Html.parse(s.toString)))

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Unicode NFC normalization (UAX #15 canonical composition) — the
    * first pass of every LLM text-cleaning pipeline: combining
    * sequences compose ("e" + U+0301 -> "é"), singleton canonical
    * equivalents unify, so exact-dedup hashes and tokenizers see ONE
    * byte form per canonically-equal string. A [[UnaryKernel]], so it
    * runs inside whole-stage codegen; NFC is stable across Unicode
    * versions for assigned codepoints, which is what lets a DuckDB
    * (utf8proc) oracle hash-match the JDK implementation. Fast path:
    * `Normalizer.isNormalized` skips the rebuild for already-NFC text
    * (nearly all real corpora).
    */
  case class NfcNormalize(child: Expression)
      extends UnaryKernel[UTF8String, UTF8String] with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    def compute(s: UTF8String): UTF8String = {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Outlink extraction: every non-empty `<a href>` value in document
    * order — the per-page edge list a crawl-frontier or link-graph
    * (domain-quality, PageRank-ish) step consumes after an `explode`.
    */
  case class HtmlLinks(child: Expression)
      extends UnaryKernel[UTF8String, ArrayData] with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "html_links"

    def compute(s: UTF8String): ArrayData = {
      val hrefs = Html.links(Html.parse(s.toString))
      new GenericArrayData(hrefs.map(UTF8String.fromString).toArray[Any])
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** A fixed-size blocked Bloom filter over 64-bit keys — the sketch a
    * bloom-pruned semi-join broadcasts in place of the exact key set.
    * Double hashing (Kirsch–Mitzenmacher): the i-th probe bit is
    * `h1 + i*h2 mod numBits`, with both hashes derived from splitmix64,
    * so membership is a pure function of (key, sizing) — deterministic
    * across engines, partitionings, and retries. False positives are by
    * design (an exact join downstream removes them); false negatives
    * are impossible, which is the property the pruning join relies on.
    */
  final class LongBloom(val numHashes: Int, val bits: Array[Long])
      extends Serializable {
    require(numHashes >= 1 && bits.nonEmpty)
    private val numBits: Long = bits.length.toLong * 64L

    def add(key: Long): Unit = LongBloom.addTo(bits, numHashes, key)

    def mightContain(key: Long): Boolean = {
      val h1 = splitmix64(key)
      val h2 = splitmix64(key ^ 0x9e3779b97f4a7c15L) | 1L
      var i = 0
      while (i < numHashes) {
        val idx = ((h1 + i * h2) & Long.MaxValue) % numBits
        if ((bits((idx >>> 6).toInt) & (1L << (idx & 63L))) == 0L) return false
        i += 1
      }
      true
    }

  }

  object LongBloom {
    /** Allocation-free insert for aggregation buffers. */
    def addTo(bits: Array[Long], numHashes: Int, key: Long): Unit = {
      val numBits = bits.length.toLong * 64L
      val h1 = splitmix64(key)
      val h2 = splitmix64(key ^ 0x9e3779b97f4a7c15L) | 1L
      var i = 0
      while (i < numHashes) {
        val idx = ((h1 + i * h2) & Long.MaxValue) % numBits
        bits((idx >>> 6).toInt) |= (1L << (idx & 63L))
        i += 1
      }
    }

    /** Standard sizing: m = -n ln(p) / (ln 2)^2 bits, k = (m/n) ln 2
      * probes, both clamped to sane minimums. 2^20 keys at 1% fpp is
      * ~1.2 MB of bits — the broadcast cost that replaces shuffling the
      * unmatched majority of a 100 TB probe side.
      */
    def sized(expectedKeys: Long, fpp: Double): LongBloom = {
      require(expectedKeys > 0 && fpp > 0 && fpp < 1)
      val ln2 = math.log(2.0)
      val m = math.ceil(-expectedKeys * math.log(fpp) / (ln2 * ln2)).toLong.max(64L)
      val words = ((m + 63) / 64).toInt
      val k = math.round(m.toDouble / expectedKeys * ln2).toInt.max(1).min(16)
      new LongBloom(k, new Array[Long](words))
    }
  }

  /** Membership probe against a broadcast [[LongBloom]] — the pruning
    * predicate of a bloom semi-join. The sketch rides an explicit
    * `Broadcast` handle, NOT the expression tree: tasks fetch the bits
    * once per executor instead of re-serializing megabytes into every
    * task closure. Codegen'd, so the probe participates in whole-stage
    * codegen and runs at scan speed on the big side.
    */
  case class BloomMightContain(child: Expression,
                               bloomBc: org.apache.spark.broadcast.Broadcast[LongBloom])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(org.apache.spark.sql.graftbridge.Bridge.integralKey)
    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_might_contain"

    private def keyOf(input: Any): Long = input match {
      case l: Long  => l
      case i: Int   => i.toLong
      case s: Short => s.toLong
      case b: Byte  => b.toLong
    }

    override def nullSafeEval(input: Any): Any = bloomBc.value.mightContain(keyOf(input))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bc = ctx.addReferenceObj("bloombc", bloomBc,
        classOf[org.apache.spark.broadcast.Broadcast[LongBloom]].getName)
      val cls = classOf[LongBloom].getName
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (($cls) $bc.value()).mightContain((long) $c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ALL overlapping n-token windows in document order — the positional
    * no-dedup twin of [[WordShingles]], for span-level dedup where every
    * occurrence (and via posexplode, its position) matters. Empty when
    * the document is shorter than n; identical strings to the HOF
    * `transform(sequence(...), i -> concat_ws(' ', slice(toks, i, n)))`
    * formulation, in one allocation-tight loop instead of a per-window
    * interpreted lambda.
    */
  case class SpanWindows(child: Expression, n: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "span_windows"

    def compute(arr: ArrayData): ArrayData = {
      val cnt = arr.numElements()
      if (cnt < n) return new GenericArrayData(Array.empty[Any])
      val toks = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) {
        val s = arr.getUTF8String(i)
        toks(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
        i += 1
      }
      val sep = UTF8String.fromString(" ")
      val out = new Array[Any](cnt - n + 1)
      var j = 0
      while (j + n <= cnt) {
        out(j) = UTF8String.concatWs(sep, java.util.Arrays.copyOfRange(toks, j, j + n): _*)
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fused span hashing: the 15-nibble md5 prefix ([[Md5Bits]] nibbles
    * = 15) of EVERY overlapping n-token window, fed to the digest token
    * by token with the ' ' separator — byte-identical to hashing the
    * [[SpanWindows]] strings, without ever materializing them. For a
    * hash-only span shuffle this halves the work again: no per-window
    * string assembly, and the exploded column is a bare long instead of
    * a span-length string. Empty when the document is shorter than n.
    */
  case class SpanKeys(child: Expression, n: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(n >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "span_keys"

    def compute(arr: ArrayData): ArrayData = {
      val cnt = arr.numElements()
      if (cnt < n) return new GenericArrayData(Array.empty[Any])
      val tokBytes = new Array[Array[Byte]](cnt)
      var i = 0
      while (i < cnt) {
        val s = arr.getUTF8String(i)
        tokBytes(i) = if (s == null) Array.emptyByteArray else s.getBytes
        i += 1
      }
      val md = md5Local.get()
      val out = new Array[Any](cnt - n + 1)
      // assemble each window into one reusable buffer and feed the
      // digest a single update: per-token update() calls carry enough
      // per-call state overhead to show up at window volume
      var maxLen = n - 1
      i = 0
      while (i < cnt) { maxLen += tokBytes(i).length; i += 1 }
      val buf = new Array[Byte](maxLen)
      var j = 0
      while (j + n <= cnt) {
        var len = 0
        var t = j
        while (t < j + n) {
          val tb = tokBytes(t)
          System.arraycopy(tb, 0, buf, len, tb.length)
          len += tb.length
          if (t < j + n - 1) { buf(len) = ' '; len += 1 }
          t += 1
        }
        md.reset()
        md.update(buf, 0, len)
        val d = md.digest()
        // value of the first 15 hex digits — the Md5Bits(_, 15) long
        var v = 0L
        var k = 0
        while (k < 15) {
          val nib = if ((k & 1) == 0) (d(k >> 1) >> 4) & 0xf else d(k >> 1) & 0xf
          v = (v << 4) | nib
          k += 1
        }
        out(j) = v
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Micro-unit quantization of a float vector: element-wise
    * floor(x·1e6 + 0.5) as BIGINT — the codegen'd twin of the HOF
    * `transform(v, x -> floor(x*1e6+0.5))` formulation. Each element is
    * the same IEEE-exact step sequence (float→double cast, one multiply,
    * one add, floor), so the integers are bit-identical to the HOF form
    * and to any SQL oracle; the tight loop just avoids the per-row
    * interpreted-lambda and array-of-boxed costs on the corpus pass.
    */
  case class QuantizeMicro(child: Expression)
      extends UnaryKernel[ArrayData, ArrayData] with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "quantize_micro"

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = math.floor(arr.getFloat(i).toDouble * 1000000.0 + 0.5).toLong
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Argmin cell id of a micro-quantized vector against a baked integer
    * codebook: squared L2 distance in pure 64-bit arithmetic, first-match
    * ties (strict `<`) to the lowest cell — exactly the contract of the
    * HOF `array_position(dists, array_min(dists)) - 1` formulation, in
    * one allocation-free loop. The codebook rides the expression (kCells
    * × dim longs — model bytes, not data).
    */
  case class NearestCellQ(child: Expression, centroids: Array[Array[Long]])
      extends UnaryKernel[ArrayData, Int] with ExpectsInputTypes {
    require(centroids.nonEmpty)
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = IntegerType
    override def prettyName: String = "nearest_cell_q"

    def compute(arr: ArrayData): Int = {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        // a dimension mismatch must fail loudly — a truncated-prefix
        // distance silently ranks cells against the wrong geometry
        if (arr.numElements() != cent.length)
          throw new IllegalArgumentException(
            s"nearest_cell_q: vector dimension ${arr.numElements()} != " +
              s"codebook dimension ${cent.length}")
        val n = cent.length
        var d = 0L
        var i = 0
        while (i < n) {
          val diff = arr.getLong(i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The `nProbe` nearest cell ids of a micro-quantized vector against a
    * baked integer codebook, ordered by (squared L2 distance, cell id)
    * ascending — bit-identical to the HOF
    * `slice(array_sort(array(struct(dist, cell)*)), 1, nProbe)`
    * formulation, which evaluated an interpreted lambda per (row × cell)
    * and dominated every IVF probe at corpus scale. One allocation-free
    * selection loop: cells are visited in ascending id order and a
    * candidate only displaces a kept entry on STRICTLY smaller distance,
    * so equal-distance ties keep the lower cell id exactly like the
    * struct sort.
    */
  case class NearestCellsQ(child: Expression, centroids: Array[Array[Long]],
                           nProbe: Int)
      extends UnaryKernel[ArrayData, ArrayData] with ExpectsInputTypes {
    require(centroids.nonEmpty && nProbe >= 1)
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "nearest_cells_q"

    private val keep = math.min(nProbe, centroids.length)

    def compute(arr: ArrayData): ArrayData = {
      val bd = new Array[Long](keep)
      val bc = new Array[Int](keep)
      var filled = 0
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        // fail loudly on dimension mismatch — a truncated-prefix
        // distance gives a silently wrong cell ranking
        if (arr.numElements() != cent.length)
          throw new IllegalArgumentException(
            s"nearest_cells_q: vector dimension ${arr.numElements()} != " +
              s"codebook dimension ${cent.length}")
        val n = cent.length
        var d = 0L
        var i = 0
        while (i < n) {
          val diff = arr.getLong(i) - cent(i)
          d += diff * diff
          i += 1
        }
        // insertion into the kept (dist, cell) list: ascending visit
        // order + strict < keeps the lower cell on distance ties
        if (filled < keep) {
          var j = filled
          while (j > 0 && bd(j - 1) > d) {
            bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1
          }
          bd(j) = d; bc(j) = c; filled += 1
        } else if (d < bd(keep - 1)) {
          var j = keep - 1
          while (j > 0 && bd(j - 1) > d) {
            bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1
          }
          bd(j) = d; bc(j) = c
        }
        c += 1
      }
      val out = new Array[Int](filled)
      System.arraycopy(bc, 0, out, 0, filled)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // -------- Column-facing wrappers --------
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def float_vector_dot(a: Column, b: Column): Column =
    column(FloatVectorDot(expression(a), expression(b)))
  def long_vector_dot(a: Column, b: Column): Column =
    column(LongVectorDot(expression(a), expression(b)))
  def minhash_signature(tokens: Column, k: Int): Column =
    column(MinHashSignature(expression(tokens), k))
  def simhash60(tokens: Column): Column = column(SimHash60(expression(tokens)))
  def md5_bits(s: Column, nibbles: Int): Column =
    column(Md5Bits(expression(s), nibbles))
  def max_by_row(value: Column, ord: Column): Column =
    column(MaxByRow(expression(value), expression(ord))
      .toAggregateExpression(isDistinct = false))
  /** argmax of `ord`, ord-ties to the SMALLEST `tie` (nulls first) — the
    * keep-best contract for any orderable tie type. */
  def max_by_row(value: Column, ord: Column, tie: Column): Column =
    column(MaxByRow(expression(value), expression(ord), expression(tie))
      .toAggregateExpression(isDistinct = false))
  def word_shingles(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n))
  def span_windows(tokens: Column, n: Int): Column =
    column(SpanWindows(expression(tokens), n))
  def span_keys(tokens: Column, n: Int): Column =
    column(SpanKeys(expression(tokens), n))
  def hyperplane_signatures(vec: Column, dim: Int, bits: Int, bands: Int,
                            seed: Int = 42): Column =
    column(HyperplaneSignatures(expression(vec), dim, bits, bands, seed))
  def signature_agreement(a: Column, b: Column): Column =
    column(SignatureAgreement(expression(a), expression(b)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def sorted_id_pairs(ids: Column): Column =
    column(SortedIdPairs(expression(ids)))
  def ngram_stats(tokens: Column, n: Int): Column =
    column(NgramStats(expression(tokens), n))
  def simhash_id_pairs(members: Column, maxHamming: Int): Column =
    column(SimhashIdPairs(expression(members), maxHamming))
  def bloom_might_contain(key: Column,
                          bc: org.apache.spark.broadcast.Broadcast[LongBloom]): Column =
    column(BloomMightContain(expression(key), bc))
  def quantize_micro(vec: Column): Column = column(QuantizeMicro(expression(vec)))
  def sign_bits_packed(vec: Column, start: Int): Column =
    column(SignBitsPacked(expression(vec), start))
  def hamming_packed(a: Column, b: Column): Column =
    column(HammingPacked(expression(a), expression(b)))
  def nearest_cell_q(vq: Column, centroids: Array[Array[Long]]): Column =
    column(NearestCellQ(expression(vq), centroids))
  def nearest_cells_q(vq: Column, centroids: Array[Array[Long]],
                      nProbe: Int): Column =
    column(NearestCellsQ(expression(vq), centroids, nProbe))
  def z_value(coords: Column, nCols: Int, bits: Int): Column =
    column(ZValue(expression(coords), nCols, bits))
  def hilbert_value(coords: Column, bits: Int): Column =
    column(HilbertValue(expression(coords), bits))
  /** Multi-field DOM extraction — one parse per page. Spec: (field,
    * selector, attr?) where attr None extracts trimmed text. */
  def html_extract(html: Column, specs: Seq[(String, String, Option[String])]): Column =
    column(HtmlExtract(expression(html), specs))
  /** Whole-page visible text (script/style excluded), whitespace-collapsed. */
  def html_to_text(html: Column): Column = column(HtmlToText(expression(html)))
  /** Unicode NFC canonical composition (UAX #15). */
  def nfc_normalize(text: Column): Column = column(NfcNormalize(expression(text)))
  /** Non-empty anchor hrefs in document order. */
  def html_links(html: Column): Column = column(HtmlLinks(expression(html)))
}
