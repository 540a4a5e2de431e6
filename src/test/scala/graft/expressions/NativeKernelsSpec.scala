package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every native kernel must be bit-identical to the interpreted HOF
  * formulation it replaced (the round-1 implementations, which were
  * oracle- or spec-verified). These run over the real sf0.001 documents
  * and embeddings tables, not toy rows.
  */
class NativeKernelsSpec extends SparkSpec {

  private val P = NativeKernels.P

  /** The interpreted SimHash formulation `graft_simhash` replaced: per
    * token a ±1 vote per bit, bit b set iff its vote sum is > 0.
    */
  private val SimhashHof =
    """aggregate(
      |  transform(sequence(0, 63), b -> IF(element_at(
      |    aggregate(
      |      transform(split(text, ' '), t -> xxhash64(t)),
      |      array_repeat(CAST(0 AS BIGINT), 64),
      |      (acc, h) -> zip_with(acc,
      |        transform(sequence(0, 63),
      |          bb -> IF((shiftright(h, bb) & 1) = 1,
      |                   CAST(1 AS BIGINT), CAST(-1 AS BIGINT))),
      |        (x, y) -> x + y)), b + 1) > 0,
      |    shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
      |  CAST(0 AS BIGINT), (x, y) -> x + y)""".stripMargin

  private def docs = {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet")
  }

  private def embs = {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet")
  }

  test("graft_word_shingles == array_distinct(transform(...)) HOF") {
    val out = docs.select(
      call_function("graft_word_shingles", col("text")).as("native"),
      expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
          |  i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin).as("hof"))
      .collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_char_grams == array_distinct(transform(substr)) HOF") {
    val out = docs.select(
      call_function("graft_char_grams", col("text")).as("native"),
      expr(
        """array_distinct(transform(
          |  sequence(1, greatest(length(text) - 2, 1)),
          |  i -> substr(text, i, 3)))""".stripMargin).as("hof"))
      .collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_minhash_sig == per-permutation array_min HOF") {
    val numHashes = 8
    val sigCols = (0 until numHashes).map { i =>
      val a = NativeKernels.minhashA(i)
      val b = NativeKernels.minhashB(i)
      array_min(transform(col("hs"), h => (h * lit(a) + lit(b)) % lit(P)))
    }
    val out = docs
      .select(call_function("graft_word_shingles", col("text")).as("shingles"))
      .withColumn("hs", expr(s"transform(shingles, s -> pmod(xxhash64(s), ${P}L))"))
      .select(
        call_function("graft_minhash_sig", col("shingles"), lit(numHashes)).as("native"),
        array(sigCols: _*).as("hof"))
      .collect()
    out.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_minhash_sig of an empty array is NULL, like the HOF") {
    import spark.implicits._
    val df = Seq(Seq.empty[String], Seq("one shingle")).toDF("shingles")
    val out = df.select(
      call_function("graft_minhash_sig", col("shingles"), lit(4)).as("native"),
      // HOF equivalent: array_min over an empty transform is NULL per slot
      expr(s"array_min(transform(transform(shingles, s -> pmod(xxhash64(s), ${P}L)), " +
        s"h -> (h * ${NativeKernels.minhashA(0)}L + ${NativeKernels.minhashB(0)}L) % ${P}L))")
        .as("hof0")).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
    assert(!out(1).isNullAt(0) && out(1).getSeq[Long](0).head == out(1).getLong(1))
  }

  test("graft_simhash == vote-loop HOF") {
    val out = docs
      .select(col("doc_id"),
        call_function("graft_simhash", split(col("text"), " ")).as("native"),
        expr(SimhashHof).as("hof"))
      .limit(50).collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("graft_simhash == vote-loop HOF on even-token (tied) and single-token texts") {
    import spark.implicits._
    val texts = Seq("alpha beta", "one two three four", "solo", "", "same same")
    val out = texts.toDF("text")
      .select(col("text"),
        call_function("graft_simhash", split(col("text"), " ")).as("native"),
        expr(SimhashHof).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"text '${r.getString(0)}'"))
    def h(t: String): Long = XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
    val native = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    // two tokens tie (vote 0) on every bit where their hashes differ: bit 0
    val tied = h("alpha") ^ h("beta")
    assert(tied != 0L)
    assert((native("alpha beta") & tied) == 0L)
    assert(native("alpha beta") == (h("alpha") & h("beta")))
    // one token: every vote is ±1, so the SimHash is the token's hash
    assert(native("solo") == h("solo"))
    assert(native("") == h(""))
  }

  test("graft_rollhash == aggregate-over-chars HOF") {
    val out = docs.select(
      call_function("graft_rollhash", col("text")).as("native"),
      aggregate(
        regexp_extract_all(col("text"), lit("."), lit(0)),
        lit(0L),
        (acc, c) => (acc * 31L + ascii(c)) % 1000000007L).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_rollhash skips Java-regex line terminators") {
    import spark.implicits._
    val df = Seq("a\nb", "a\rb", "ab").toDF("text")
    val out = df.select(
      call_function("graft_rollhash", col("text")).as("native"),
      aggregate(
        regexp_extract_all(col("text"), lit("."), lit(0)),
        lit(0L),
        (acc, c) => (acc * 31L + ascii(c)) % 1000000007L).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // all three reduce to hash("ab")
    assert(out.map(_.getLong(0)).distinct.length == 1)
  }

  test("graft_lsh_bucket == nested aggregate/zip_with HOF on cast arrays") {
    val planes = 6
    val hof = expr(
      s"""aggregate(
         |  transform(sequence(0, ${planes - 1}), j -> IF(
         |    aggregate(
         |      zip_with(v, transform(sequence(0, size(v) - 1),
         |        d -> IF((xxhash64(j, d) & 1) = 1, CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE))),
         |        (x, s) -> x * s),
         |      CAST(0.0 AS DOUBLE), (s, x) -> s + x) > 0,
         |    shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (x, y) -> x + y)""".stripMargin)
    val out = embs
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(
        call_function("graft_lsh_bucket", col("v"), lit(planes)).as("native"),
        hof.as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_lsh_bucket on array<float> == on cast array<double>") {
    val out = embs.select(
      call_function("graft_lsh_bucket", col("embedding"), lit(6)).as("f"),
      call_function("graft_lsh_bucket",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"), lit(6)).as("d"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_lsh_bands bucket b equals the matching plane-range signs") {
    val out = embs.select(
      call_function("graft_lsh_bands", col("embedding"), lit(2), lit(3)).as("bands"),
      call_function("graft_lsh_bucket", col("embedding"), lit(6)).as("flat"))
      .collect()
    out.foreach { r =>
      val bands = r.getSeq[Long](0)
      val flat = r.getLong(1)
      assert(bands.length == 3)
      (0 until 3).foreach { b =>
        assert(bands(b) == ((flat >> (2 * b)) & 3L))
      }
    }
  }

  /** Band buckets the way the hash-per-element formulation computed
    * them: plane j's component for dimension d is +x or −x by
    * `xxhash64(j, d) & 1`, folded left in d order, one plane at a time.
    */
  private def lshBandsReference(v: Array[Double], rowsPerBand: Int, bands: Int): Seq[Long] =
    (0 until bands).map { b =>
      (0 until rowsPerBand).foldLeft(0L) { (bucket, r) =>
        val hj = XxHash64Function.hash(b * rowsPerBand + r, IntegerType, 42L)
        val dot = v.indices.foldLeft(0.0) { (acc, d) =>
          if ((XxHash64Function.hash(d, IntegerType, hj) & 1L) == 1L) acc + v(d)
          else acc - v(d)
        }
        if (dot > 0) bucket + (1L << r) else bucket
      }
    }

  test("graft_lsh_bands == per-element xxhash64(j, d) reference at 15 x 39 and 7 x 3") {
    // array<float>, and array<double> values no float can hold
    val frame = embs.select(col("embedding").as("f"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE) / 3.0)").as("d"))
    for ((rowsPerBand, bands) <- Seq((15, 39), (7, 3))) {
      val out = frame.select(col("f"), col("d"),
        call_function("graft_lsh_bands", col("f"), lit(rowsPerBand), lit(bands)).as("bf"),
        call_function("graft_lsh_bands", col("d"), lit(rowsPerBand), lit(bands)).as("bd"))
        .collect()
      assert(out.nonEmpty)
      out.foreach { r =>
        val f = r.getSeq[Float](0).map(_.toDouble).toArray
        val d = r.getSeq[Double](1).toArray
        assert(r.getSeq[Long](2) == lshBandsReference(f, rowsPerBand, bands))
        assert(r.getSeq[Long](3) == lshBandsReference(d, rowsPerBand, bands))
      }
    }
  }

  test("graft_jaccard == round(size(array_intersect)/union, 6) on real shingle pairs") {
    // real candidate-like pairs: consecutive docs' shingle sets
    val g = docs.select(col("doc_id"),
      call_function("graft_word_shingles", col("text")).as("sh"))
    val pairs = g.as("a").join(g.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
    val out = pairs.select(
      call_function("graft_jaccard", col("a.sh"), col("b.sh")).as("native"),
      round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
        / (size(col("a.sh")) + size(col("b.sh"))
           - size(array_intersect(col("a.sh"), col("b.sh")))), 6).as("hof"))
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // identical pair and char-gram variants
    val out2 = docs.select(
      call_function("graft_jaccard",
        call_function("graft_char_grams", col("text")),
        call_function("graft_char_grams", col("text"))).as("self")).collect()
    out2.foreach(r => assert(r.getDouble(0) == 1.0))
  }

  test("graft_jitter == indexed-transform HOF with xxhash64 signs") {
    val out = embs.select(
      call_function("graft_jitter", col("embedding"), col("vec_id"), lit(0.33)).as("native"),
      expr(
        """transform(embedding, (x, i) -> CAST(
          |  x + (0.33D * sqrt(aggregate(transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
          |                              CAST(0.0 AS DOUBLE), (s, e2) -> s + e2))
          |       / sqrt(CAST(size(embedding) AS DOUBLE)))
          |    * IF((xxhash64(vec_id, i) & 1) = 1, 1.0D, -1.0D) AS FLOAT))""".stripMargin)
        .as("hof"))
      .limit(100).collect()
    out.foreach(r => assert(r.getSeq[Float](0) == r.getSeq[Float](1)))
  }

  test("graft_dot reads array<float> directly, identical to cast-to-double") {
    val out = embs.select(
      call_function("graft_dot", col("embedding"), col("embedding")).as("ff"),
      expr("graft_dot(transform(embedding, x -> CAST(x AS DOUBLE)), transform(embedding, x -> CAST(x AS DOUBLE)))").as("dd"),
      call_function("graft_dot", col("embedding"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as("fd"))
      .collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) == r.getDouble(2))
    }
  }

  test("graft_text_stats == the regexp_count formulations, corpus + adversarial edges") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val edge = Seq(
      "", " ", "the", "The the THE", "xthe they a_b a b a,b a.b;the",
      "cathedral is to the a of and in is", "und der die das ist le la les",
      "el los las y es est et", "_ _the the_ the5 5the _a a_",
      "tabs\tand\nnewlineshere\fand\rthe end", "汉字漢字 the 汉",
      "émigré café the", "a! a? a. !a ?the! (a) [is] {of}",
      "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 the 𝄞", "is", "y", "a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).union(edge)
    val out = corpus.select(
      TextFunctions.textStats(col("text")).as("st"),
      TextFunctions.alphaCountRe(col("text")).as("alpha"),
      TextFunctions.punctCountRe(col("text")).as("punct"),
      TextFunctions.stopwordCountRe(col("text")).as("en"),
      regexp_count(col("text"), lit(s"\\b(${TextFunctions.StopwordsDe})\\b")).cast("long").as("de"),
      regexp_count(col("text"), lit(s"\\b(${TextFunctions.StopwordsFr})\\b")).cast("long").as("fr"),
      regexp_count(col("text"), lit(s"\\b(${TextFunctions.StopwordsEs})\\b")).cast("long").as("es"),
      regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long").as("zh"),
      TextFunctions.langId(col("text")).as("lang_k"),
      TextFunctions.langIdRe(col("text")).as("lang_re"))
    out.collect().foreach { r =>
      val st = r.getSeq[Long](0)
      assert(st == Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)),
        s"stats mismatch: kernel $st vs regex ${(1 to 7).map(r.getLong)}")
      assert(r.getString(8) == r.getString(9), s"langId mismatch on row $r")
    }
  }

  test("graft_dot yields NULL on length mismatch, like the zip_with HOF") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val out = df.select(
      expr("graft_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, x) -> s + x)")
        .as("hof")).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
  }
}
