package graft.expressions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hot-loop kernels for graft's native expressions.
  *
  * Each method is the compiled-Scala equivalent of a higher-order-function
  * formulation that Spark can only run interpreted (`transform` /
  * `aggregate` / `zip_with` are CodegenFallback). The generated code of
  * the wrapping expressions calls these static forwarders, so the work
  * stays inside whole-stage codegen with zero interpreted-lambda overhead
  * and zero intermediate array allocation.
  *
  * All hashing goes through [[XxHash64Function]] (seed 42) so results are
  * bit-identical to Spark's SQL `xxhash64(...)` — the specs assert
  * equivalence against the original HOF formulations.
  */
object NativeKernels {

  /** Mersenne prime 2^31-1: universal-hash modulus. Products of two
    * values < P stay < 2^62, so ANSI-mode long arithmetic cannot
    * overflow.
    */
  val P: Long = 2147483647L

  def minhashA(i: Int): Long = (0x9E3779B9L * (i + 1)) % (P - 1) + 1
  def minhashB(i: Int): Long = (0x85EBCA6BL * (i + 1)) % P

  /** MinHash signature of a shingle set.
    *
    * Equivalent HOF: `hs = transform(shingles, s -> pmod(xxhash64(s), P))`
    * then `sig[i] = array_min(transform(hs, h -> (h*a_i + b_i) % P))` —
    * one xxhash per shingle, permutations derived by universal re-mixing.
    */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { a(i) = minhashA(i); b(i) = minhashB(i); i += 1 }
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val s = shingles.getUTF8String(j)
      val h = java.lang.Math.floorMod(XxHash64Function.hash(s, StringType, 42L), P)
      i = 0
      while (i < numHashes) {
        val v = (h * a(i) + b(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash of a token array.
    *
    * Equivalent HOF: per-token `xxhash64`, ±1 vote per bit
    * (`(shiftright(h, b) & 1) = 1`), bit set iff vote sum > 0. The vote
    * is branchless (`2·bit − 1`): the bits of a hash are coin flips, so
    * an `if` per bit mispredicts about half the time.
    */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var j = 0
    while (j < n) {
      val h = XxHash64Function.hash(tokens.getUTF8String(j), StringType, 42L)
      var b = 0
      while (b < 64) {
        votes(b) += ((h >>> b).toInt & 1) * 2 - 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Per-point Holt double exponential smoothing (level + trend) over
    * an (ts, value)-struct array already sorted by (ts, value):
    * `s_0 = x_0, b_0 = 0;  s_i = α·x_i + (1−α)(s_{i−1} + b_{i−1}),
    * b_i = β(s_i − s_{i−1}) + (1−β)·b_{i−1}` — one LEVEL output per
    * input. ZERO-trend initialization (a published variant; PromQL's
    * `holt_winters` seeds b_0 = x_1 − x_0 instead) is pinned because
    * it folds with a type-stable two-field struct accumulator on every
    * engine — the DuckDB oracle runs the IDENTICAL chain via
    * `list_reduce` over prefix arrays mapped to {s, b} structs, with
    * `1−α`/`1−β` computed (not literal 0.7-style constants, which are
    * different doubles). Bit-stable by the ewma argument.
    */
  def holt(pts: ArrayData, alpha: Double, beta: Double): ArrayData = {
    val oa = 1.0 - alpha
    val ob = 1.0 - beta
    val n = pts.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var b = 0.0
    var i = 0
    while (i < n) {
      val x = pts.getStruct(i, 2).getDouble(1)
      if (i == 0) { s = x; b = 0.0 }
      else {
        val sNew = alpha * x + oa * (s + b)
        b = beta * (sNew - s) + ob * b
        s = sNew
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-point additive Holt-Winters triple exponential smoothing
    * (level + trend + index-periodic seasonal, Winters 1960) over a
    * (ts, value)-struct array already sorted by (ts, value):
    * with `c` a `period`-slot seasonal array (zero-init) and
    * `slot = i mod period`,
    * `s_i = α(x_i − c_prev) + (1−α)(s_{i−1} + b_{i−1})`,
    * `b_i = β(s_i − s_{i−1}) + (1−β) b_{i−1}`,
    * `c_slot = γ(x_i − s_i) + (1−γ) c_prev`,
    * and the emitted fit is `s_i + c_prev` (the pre-update seasonal —
    * the one-step-ahead convention). `s_0 = x_0, b_0 = 0` pins the
    * same zero-trend init as [[holt]]. Every step is a fixed IEEE
    * chain with `1−α`/`1−β`/`1−γ` computed once, so a DuckDB
    * `list_reduce` folding the identical chain over a {s, b, c[],
    * i, fit} struct accumulator is bit-equal.
    */
  def holtWinters(pts: ArrayData, alpha: Double, beta: Double,
                  gamma: Double, period: Int): ArrayData = {
    val oa = 1.0 - alpha
    val ob = 1.0 - beta
    val og = 1.0 - gamma
    val n = pts.numElements()
    val out = new Array[Double](n)
    val c = new Array[Double](period)
    var s = 0.0
    var b = 0.0
    var i = 0
    while (i < n) {
      val x = pts.getStruct(i, 2).getDouble(1)
      val slot = i % period
      val cPrev = c(slot)
      if (i == 0) { s = x; b = 0.0 }
      else {
        val sNew = alpha * (x - cPrev) + oa * (s + b)
        b = beta * (sNew - s) + ob * b
        s = sNew
      }
      out(i) = s + cPrev
      c(slot) = gamma * (x - s) + og * cPrev
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-point exponentially-weighted moving average over an
    * (ts, value)-struct array already sorted by (ts, value):
    * `y_0 = x_0; y_i = (1-α)·y_{i-1} + α·x_i`, one output per input.
    *
    * The fold is the RAW IEEE op chain `om·acc + α·x` with
    * `om = 1.0 - α` computed once — the DuckDB oracle mirrors the
    * identical arithmetic via `list_reduce` over prefix arrays
    * (left-fold seeded with the first element), so results are
    * bit-stable across engines. Equivalent HOF: `aggregate` with a
    * struct accumulator emitting the running value per element.
    */
  def ewma(pts: ArrayData, alpha: Double): ArrayData = {
    val om = 1.0 - alpha
    val n = pts.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = pts.getStruct(i, 2).getDouble(1)
      acc = if (i == 0) x else om * acc + alpha * x
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Product-quantization encode: split `v` into `m` contiguous
    * subvectors of `subDim`, per subspace pick the L2-nearest of 16
    * codewords (`flat` layout: subspace-major, then codeword, then
    * component — `flat(((s*16)+c)*subDim + d)`), pack the 4-bit codes
    * into one long (subspace s at bits 4s..4s+3). 16 codewords × 4
    * bits is the classic PQ byte-halving configuration; one long holds
    * up to m=16 subspaces. Ties go to the LOWER codeword id (strict
    * `<`), making the encoding deterministic.
    */
  def pqEncode(v: ArrayData, flat: Array[Double], m: Int, subDim: Int,
               isFloat: Boolean): Long = {
    var code = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < 16) {
        val base = ((s * 16) + c) * subDim
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val i = s * subDim + d
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          val diff = x - flat(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      code |= best.toLong << (4 * s)
      s += 1
    }
    code
  }

  /** Asymmetric-distance lookup: sum the query's per-subspace partial
    * dots (`lut` length m*16, entry `s*16 + code`) selected by the
    * packed 4-bit codes — the approximate `dot(q, v)` that ranks the
    * shortlist without touching the original vector.
    */
  def pqAdc(code: Long, lut: ArrayData): Double = {
    val m = lut.numElements() / 16
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getDouble(s * 16 + ((code >>> (4 * s)) & 15L).toInt)
      s += 1
    }
    acc
  }

  /** Polynomial rolling hash `h = fold((h*31 + codepoint) % 1e9+7)` over
    * the document's characters.
    *
    * Equivalent HOF: `aggregate(regexp_extract_all(text, '.'), 0L,
    * (acc, c) -> (acc*31 + ascii(c)) % 1000000007)`. Java-regex `.`
    * excludes line terminators, so those codepoints are skipped.
    */
  def rollingHash(text: UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      // Java-regex '.' line terminators: \n \r NEL LS PS
      if (cp != '\n' && cp != '\r' && cp != 0x85 && cp != 0x2028 && cp != 0x2029)
        h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Distinct word 3-shingles of a document.
    *
    * Equivalent HOF: `array_distinct(transform(sequence(1,
    * greatest(size(split(text, ' ')) - 2, 1)), i -> concat_ws(' ',
    * slice(split(text, ' '), i, 3))))` — split on single space keeping
    * empty tokens, windows of 3 (or the whole token list when shorter),
    * first-occurrence-order distinct.
    */
  def wordShingles3(text: UTF8String): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    val n = tokens.length
    val windows = math.max(n - 2, 1)
    val seen = new java.util.LinkedHashSet[String](windows * 2)
    var i = 0
    while (i < windows) {
      val end = math.min(i + 3, n)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    toUtf8Array(seen)
  }

  /** Distinct char 3-grams of a document.
    *
    * Equivalent HOF: `array_distinct(transform(sequence(1,
    * greatest(length(text) - 2, 1)), i -> substr(text, i, 3)))`.
    */
  def charGrams3(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    val windows = math.max(n - 2, 1)
    val seen = new java.util.LinkedHashSet[String](windows * 2)
    var i = 0
    while (i < windows) {
      seen.add(s.substring(i, math.min(i + 3, n)))
      i += 1
    }
    toUtf8Array(seen)
  }

  private def toUtf8Array(seen: java.util.LinkedHashSet[String]): ArrayData = {
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Repetition counters of a document in ONE pass:
    * `[n_words, n_distinct_words, top_bigram_count, n_distinct_trigrams]`.
    *
    * Words are `split(trim(text), ' +')` (Spark split semantics:
    * limit -1; an all-whitespace document yields one empty token, so
    * `n_words >= 1` always). `top_bigram_count` is the maximum
    * multiplicity over word bigrams (0 when n < 2); trigram distinct
    * count is 0 when n < 3.
    *
    * Equivalent HOF (spec-asserted bit-identical, TextOpsSpec): bigram
    * top count = longest equal-run of `array_sort(transform(sequence(0,
    * n-2), i -> concat(w[i], ' ', w[i+1])))` via an `aggregate` fold;
    * distinct counts = `size(array_distinct(...))`. That pipeline is
    * CodegenFallback (interpreted lambdas + intermediate arrays +
    * per-element struct rows in the fold) and measured 11 s for the
    * sf0.1 suite's 50k docs; this kernel is two hash maps and one
    * array scan.
    */
  private val StopEn = java.util.Set.of("the", "a", "of", "and", "to", "in", "is")
  private val StopDe = java.util.Set.of("der", "die", "das", "und", "ist")
  private val StopFr = java.util.Set.of("le", "la", "les", "et", "est")
  private val StopEs = java.util.Set.of("el", "los", "las", "y", "es")

  /** One-pass character/token statistics `[alpha, punct, stop_en,
    * stop_de, stop_fr, stop_es, zh]` — the quality/langid signal
    * bundle that previously cost ~10 independent `regexp_count`
    * passes per row (one per character class and stopword list).
    * Bit-for-bit regex parity is the contract (fuzz-spec'd against
    * the regexp formulations):
    * - `alpha` = `[a-zA-Z]` code points;
    * - `punct` = `[^a-zA-Z0-9\s]` with Java's ASCII-only `\s`
    *   ([ \t\n\x0B\f\r]) — underscore and non-ASCII count as punct;
    * - `stop_*` = `\b(w1|…)\b` occurrences, which for all-letter
    *   stopwords is exactly "maximal `[a-zA-Z0-9_]` run equals a
    *   stopword, case-sensitive";
    * - `zh` = `[\x{4e00}-\x{9fff}]` code points.
    * Iteration is by CODE POINT (Java regex treats a surrogate pair
    * as one character, so code-unit iteration would diverge on
    * supplementary-plane input).
    */
  def textStats(text: UTF8String): ArrayData = {
    val s = text.toString
    var alpha = 0L; var punct = 0L; var zh = 0L
    var en = 0L; var de = 0L; var fr = 0L; var es = 0L
    val run = new java.lang.StringBuilder(8)
    def flush(): Unit = {
      if (run.length > 0 && run.length <= 3) {
        val t = run.toString
        if (StopEn.contains(t)) en += 1
        if (StopDe.contains(t)) de += 1
        if (StopFr.contains(t)) fr += 1
        if (StopEs.contains(t)) es += 1
      }
      run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val isAlpha = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val isDigit = cp >= '0' && cp <= '9'
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' ||
        cp == 0x0B || cp == '\f' || cp == '\r'
      if (isAlpha) alpha += 1
      if (!isAlpha && !isDigit && !isWs) punct += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) zh += 1
      if (isAlpha || isDigit || cp == '_') {
        // cap the buffer at 4: runs longer than any stopword can't
        // match, and a capped length (= 4) fails flush's <= 3 gate
        if (run.length < 4) run.appendCodePoint(cp)
      } else flush()
    }
    flush()
    new GenericArrayData(Array[Any](alpha, punct, en, de, fr, es, zh))
  }

  def repStats(text: UTF8String): ArrayData = {
    val tokens = text.toString.trim.split(" +", -1)
    val n = tokens.length
    val words = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { words.add(tokens(i)); i += 1 }
    var topBigram = 0L
    if (n >= 2) {
      val bi = new java.util.HashMap[String, Int](n * 2)
      i = 0
      while (i < n - 1) {
        val k = tokens(i) + " " + tokens(i + 1)
        val c = bi.merge(k, 1, Integer.sum)
        if (c > topBigram) topBigram = c
        i += 1
      }
    }
    var triDistinct = 0L
    if (n >= 3) {
      val tri = new java.util.HashSet[String](n * 2)
      i = 0
      while (i < n - 2) {
        tri.add(tokens(i) + " " + tokens(i + 1) + " " + tokens(i + 2))
        i += 1
      }
      triDistinct = tri.size.toLong
    }
    new GenericArrayData(Array[Any](n.toLong, words.size.toLong, topBigram, triDistinct))
  }

  /** Random-hyperplane LSH bucket: `planes` sign bits; plane j's component
    * for dimension d is ±1 from `xxhash64(j, d) & 1` (two-int xxhash
    * chain, identical to Spark's variadic `xxhash64(j, d)`).
    *
    * `isFloat` selects the element accessor; accumulation is double either
    * way, matching the HOF formulation over cast-to-double arrays.
    */
  def lshBucket(v: ArrayData, planes: Int, isFloat: Boolean): Long = {
    val dots = planeDots(v, planes, isFloat)
    var bucket = 0L
    var j = 0
    while (j < planes) {
      if (dots(j) > 0) bucket += (1L << j)
      j += 1
    }
    bucket
  }

  /** Banded LSH bucket ids: band b's bucket is the `rowsPerBand` sign
    * bits of planes `[b*rowsPerBand, (b+1)*rowsPerBand)`. OR-amplified
    * candidate generation: a pair is a candidate iff it agrees on at
    * least one full band — the same banding scheme as MinHash LSH, over
    * random-hyperplane signatures.
    */
  def lshBandBuckets(v: ArrayData, rowsPerBand: Int, bands: Int, isFloat: Boolean): ArrayData = {
    val dots = planeDots(v, rowsPerBand * bands, isFloat)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var r = 0
      while (r < rowsPerBand) {
        if (dots(b * rowsPerBand + r) > 0) bucket += (1L << r)
        r += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `round(x, 6)` on DoubleType, exactly (catalyst
    * mathExpressions `Round`: NaN/Infinity pass through, otherwise
    * `BigDecimal.valueOf` + HALF_UP).
    */
  def roundHalfUp6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Cosine of `v` against every coarse centroid, in one pass — the
    * shuffle-free IVF assignment/probe primitive. `cents` is the packed
    * centroid matrix: for centroid c, `cents(c*(dim+1))` is its norm and
    * the next `dim` slots its components (built by
    * [[graft.operators.Similarity]] from driver-resident centroids,
    * which are tiny by construction).
    *
    * Arithmetic parity: `v`'s norm is the same left-fold
    * `sqrt(graft_dot(v, v))` the query pipeline computes, each dot is
    * the same left-fold as `graft_dot(v, cv)` over cast-to-double
    * components, and `rounded = true` applies Spark's `round(x, 6)` —
    * so scores are bit-identical to the former broadcast-join + window
    * formulation (and to the DuckDB oracle).
    */
  def centCosines(v: ArrayData, cents: Array[Double], dim: Int,
                  rounded: Boolean, isFloat: Boolean): ArrayData = {
    var sn = 0.0
    var d = 0
    while (d < dim) {
      val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
      sn += x * x
      d += 1
    }
    val nrm = java.lang.Math.sqrt(sn)
    val stride = dim + 1
    val nlist = cents.length / stride
    val out = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val base = c * stride
      var s = 0.0
      d = 0
      while (d < dim) {
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        s += x * cents(base + 1 + d)
        d += 1
      }
      val cos = s / (nrm * cents(base))
      out(c) = if (rounded) roundHalfUp6(cos) else cos
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Rounded Jaccard similarity of two distinct-element string arrays:
    * `round(|a∩b| / (|a|+|b|-|a∩b|), 6)` in one hash-set pass.
    *
    * Equivalent formulation: `round(size(array_intersect(a, b)) /
    * (size(a) + size(b) - size(array_intersect(a, b))), 6)` — which
    * materializes the intersection ARRAY (twice, if written naively)
    * per row; this kernel builds one hash set of the smaller side and
    * probes it from the larger, dominating cost for the
    * candidate-verification stage of every Jaccard dedup variant.
    *
    * The intersection count removes each matched element from the set
    * (first-match-only), so a duplicate-bearing probe side cannot
    * inflate |a∩b| beyond the distinct-intersection size —
    * `size(array_intersect)` semantics. The union DENOMINATOR uses the
    * raw input sizes, so full parity with the `array_intersect`
    * formulation still requires distinct-element inputs (what the
    * shingle/gram kernels always emit — the precondition is also in the
    * SQL function's usage string). Rounding matches Spark's
    * `round(x, 6)`.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val (small, ns, large, nl) = if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nl) {
      if (set.remove(large.getUTF8String(i))) inter += 1
      i += 1
    }
    roundHalfUp6(inter.toDouble / (na + nb - inter))
  }

  /** Deterministic near-duplicate jitter of a float vector:
    * `x_i + amp·‖v‖/√dim · (±1 from xxhash64(id, i))`, result cast per
    * component to float — cos(v, jitter(v)) ≈ 1/√(1+amp²). The norm is
    * the same left fold as `graft_dot(v, v)`; the sign chain matches
    * SQL `xxhash64(id, i)` (long then int, seed 42).
    */
  def jitter(v: ArrayData, id: Long, amp: Double): ArrayData = {
    val n = v.numElements()
    var sn = 0.0
    var d = 0
    while (d < n) { val x = v.getFloat(d).toDouble; sn += x * x; d += 1 }
    val scale = amp * java.lang.Math.sqrt(sn) / java.lang.Math.sqrt(n.toDouble)
    val hid = XxHash64Function.hash(id, org.apache.spark.sql.types.LongType, 42L)
    val out = new Array[Float](n)
    d = 0
    while (d < n) {
      val sign = if ((XxHash64Function.hash(d, IntegerType, hid) & 1L) == 1L) 1.0 else -1.0
      out(d) = (v.getFloat(d).toDouble + scale * sign).toFloat
      d += 1
    }
    new GenericArrayData(out)
  }

  /** The packed sign matrix of `planes` hyperplanes over `dim`
    * dimensions: `signs(j*dim + d)` is plane j's ±1.0 for dimension d.
    * Signs are a fixed function of (plane, dim), so each JVM builds one
    * matrix per (planes, dim) and every row fetches it with one lookup:
    * the per-row signature is then a pure multiply-add loop instead of
    * two xxhash64 chains per (plane, dim) element. Multiplying by ±1.0
    * is bit-identical to the conditional add/subtract of the
    * hash-per-element formulation.
    */
  private val signMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Double]]()

  private def signMatrix(planes: Int, dim: Int): Array[Double] =
    signMatrixCache.computeIfAbsent((planes.toLong << 32) | dim, _ => {
      val signs = new Array[Double](planes * dim)
      var j = 0
      while (j < planes) {
        val hj = XxHash64Function.hash(j, IntegerType, 42L)
        var d = 0
        while (d < dim) {
          signs(j * dim + d) =
            if ((XxHash64Function.hash(d, IntegerType, hj) & 1L) == 1L) 1.0 else -1.0
          d += 1
        }
        j += 1
      }
      signs
    })

  /** `dots(j)` = Σ_d v(d)·sign(j, d), each plane a left fold in `d`
    * order (so signs match the one-plane-at-a-time formulation bit for
    * bit). The vector is read into a `double[]` once, and four planes
    * accumulate side by side, which keeps four independent add chains
    * in flight per element instead of one.
    */
  private def planeDots(v: ArrayData, planes: Int, isFloat: Boolean): Array[Double] = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var d = 0
    while (d < n) {
      x(d) = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
      d += 1
    }
    val m = signMatrix(planes, n)
    val dots = new Array[Double](planes)
    var j = 0
    while (j + 4 <= planes) {
      val o0 = j * n
      val o1 = o0 + n
      val o2 = o1 + n
      val o3 = o2 + n
      var s0 = 0.0
      var s1 = 0.0
      var s2 = 0.0
      var s3 = 0.0
      d = 0
      while (d < n) {
        val xd = x(d)
        s0 += xd * m(o0 + d)
        s1 += xd * m(o1 + d)
        s2 += xd * m(o2 + d)
        s3 += xd * m(o3 + d)
        d += 1
      }
      dots(j) = s0
      dots(j + 1) = s1
      dots(j + 2) = s2
      dots(j + 3) = s3
      j += 4
    }
    while (j < planes) {
      val o = j * n
      var s = 0.0
      d = 0
      while (d < n) { s += x(d) * m(o + d); d += 1 }
      dots(j) = s
      j += 1
    }
    dots
  }
}
