package graft.operators

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec with TempDirSpec {

  private def docsDf(ds: Seq[(Long, String)]) = {
    import spark.implicits._
    ds.toDF("doc_id", "text")
  }

  test("repetition signals on handcrafted documents") {
    val out = TextAnalysis.repetitionFrame(docsDf(Seq(
      (0L, "a b a b"),   // 4 words, 2 distinct; bigrams [a b, b a, a b] top 2/3
      (1L, "x"),         // single word: no bigrams/trigrams
      (2L, "p q"),       // one bigram, count 1
      (3L, "c c c c"))))  // fully repeated
      .collect().map(r => r.getLong(0) -> r).toMap
    val d0 = out(0L)
    assert(d0.getAs[Long]("n_words") == 4)
    assert(d0.getAs[Double]("distinct_word_frac") == 0.5)
    assert(d0.getAs[Long]("top_bigram_count") == 2)
    assert(d0.getAs[Double]("top_bigram_frac") == 0.666667)
    // trigrams [a b a, b a b] — both distinct
    assert(d0.getAs[Double]("dup_trigram_frac") == 0.0)
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_words") == 1)
    assert(d1.getAs[Long]("top_bigram_count") == 0)
    assert(d1.getAs[Double]("top_bigram_frac") == 0.0)
    assert(d1.getAs[Double]("dup_trigram_frac") == 0.0)
    val d3 = out(3L)
    assert(d3.getAs[Double]("distinct_word_frac") == 0.25)
    assert(d3.getAs[Long]("top_bigram_count") == 3)    // "c c" three times
    assert(d3.getAs[Double]("top_bigram_frac") == 1.0)
    assert(d3.getAs[Double]("dup_trigram_frac") == 0.5) // [c c c] x2 → 1 distinct of 2
  }

  test("repetition kernel path is identical to the interpreted HOF formulation") {
    import spark.implicits._
    val edge = docsDf(Seq(
      (100L, ""), (101L, "   "), (102L, "a"), (103L, "a a"),
      (104L, "x y x y x"), (105L, "solo pair pair solo solo pair")))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).union(edge)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(key(TextAnalysis.repetitionFrame(corpus)) ==
      key(TextAnalysis.repetitionFrameHof(corpus)))
  }

  test("repetition fractions are well-formed over the corpus") {
    val out = TextAnalysis.repetition(spark, sfDir)
    assert(out.count() == spark.read.parquet(s"$sfDir/documents.parquet").count())
    val bad = out.where(
      col("distinct_word_frac") < 0 || col("distinct_word_frac") > 1 ||
        col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
        col("dup_trigram_frac") < 0 || col("dup_trigram_frac") > 1 ||
        col("n_words") <= 0)
    assert(bad.count() == 0)
  }

  test("pii scrub counts and redacts emails, phones, ipv4 in order") {
    val out = TextAnalysis.piiScrubFrame(docsDf(Seq(
      (0L, "mail bob.smith+x@corp.example.org now"),
      (1L, "call +1-555-0173 or +44-20-7946-0958 stop"),
      (2L, "host 192.168.0.1 and 10.0.255.7"),
      (3L, "clean text only"),
      (4L, "a@b.io from 127.0.0.1 dial +1-555-9999"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("n_email") == 1 && out(0L).getAs[Long]("n_phone") == 0)
    assert(out(1L).getAs[Long]("n_phone") == 2)
    assert(out(2L).getAs[Long]("n_ip") == 2)
    assert(out(3L).getAs[Long]("n_email") == 0 && out(3L).getAs[Long]("n_ip") == 0)
    val multi = out(4L)
    assert(multi.getAs[Long]("n_email") == 1 && multi.getAs[Long]("n_ip") == 1
      && multi.getAs[Long]("n_phone") == 1)
    // the hash is of the fully-redacted text
    import org.apache.spark.sql.functions.md5
    val expected = spark.sql(
      "SELECT md5('<EMAIL> from <IP> dial <PHONE>') AS h").head.getString(0)
    assert(multi.getAs[String]("scrub_hash") == expected)
  }

  test("docFreq commonness is the mean corpus token probability; join modes agree") {
    val out = TextAnalysis.docFreq(spark, sfDir).collect()
    assert(out.length.toLong ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
    // recompute the contract on the driver from the raw text
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty)).toMap
    val counts = texts.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = texts.values.map(_.length.toLong).sum
    out.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
      val tf = toks.map(counts).sum
      assert(r.getAs[Long]("tf_sum") == tf)
      assert(r.getAs[Double]("commonness") ==
        tf.toDouble / total.toDouble / toks.length.toDouble)
    }
    // a token's own doc contributes to its count, so commonness ≥ 1/total
    assert(out.forall(_.getAs[Double]("commonness") >= 1.0 / total))
  }

  test("bigramLm cohesion is the ratio-of-sums bigram probability; join modes agree") {
    val out = TextAnalysis.bigramLm(spark, sfDir).collect()
    // recompute the contract on the driver from the raw text
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty)).toMap
    val uni = texts.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = texts.values.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // docs with <2 tokens have no bigrams and must be absent
    assert(out.length == texts.count(_._2.length > 1))
    out.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id"))
      val bgs = toks.zip(toks.drop(1))
      assert(r.getAs[Long]("n_bigrams") == bgs.length.toLong)
      val joint = bgs.map(big).sum
      val cond = bgs.map(p => uni(p._1)).sum
      assert(r.getAs[Long]("joint_sum") == joint)
      assert(r.getAs[Long]("cond_sum") == cond)
      assert(r.getAs[Double]("cohesion") == joint.toDouble / cond.toDouble)
    }
    // every bigram counts itself, so 0 < cohesion ≤ 1
    assert(out.forall { r =>
      val c = r.getAs[Double]("cohesion"); c > 0.0 && c <= 1.0 })
  }

  test("bigramLm adjacency skips empty tokens and short docs") {
    val out = TextAnalysis.bigramLmFrame(docsDf(Seq(
      (0L, "a  b c"),  // double space: bigrams (a,b),(b,c) after filtering
      (1L, "x"),       // no bigrams → absent
      (2L, ""),        // empty → absent
      (3L, "a b"))))   // bigram (a,b) — shared with doc 0
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(0L, 3L))
    // corpus: uni a=2 b=2 c=1 x=1; big (a,b)=2 (b,c)=1
    // doc 0: joint 2+1=3, cond a+b=4; doc 3: joint 2, cond a=2
    assert(out(0L).getAs[Long]("n_bigrams") == 2)
    assert(out(0L).getAs[Long]("joint_sum") == 3)
    assert(out(0L).getAs[Long]("cond_sum") == 4)
    assert(out(0L).getAs[Double]("cohesion") == 0.75)
    assert(out(3L).getAs[Long]("joint_sum") == 2)
    assert(out(3L).getAs[Long]("cond_sum") == 2)
    assert(out(3L).getAs[Double]("cohesion") == 1.0)
  }

  test("vocab top-k matches a driver-side word count with (cnt desc, token) order") {
    val out = TextAnalysis.vocabTopK(spark, sfDir, k = 20).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // expected: exact counts over the whole corpus, same tiebreak
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().iterator
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long])((m, t) => m.updated(t, m.getOrElse(t, 0L) + 1))
      .toSeq.sortBy { case (tok, c) => (-c, tok) }.take(20)
    assert(out.toSeq == expected)
  }

  test("decontaminate flags exactly the documents sharing a 3-gram with the eval set") {
    val out = TextAnalysis.decontaminateFrame(docsDf(Seq(
      (0L, "w1 w2 w3 w4"),          // eval doc (0 % 50 == 0)
      (1L, "zz w2 w3 w4"),          // shares "w2 w3 w4" → 1 gram
      (2L, "n1 n2 n3 n4"),          // no overlap
      (3L, "w1 w2 w3 w4"))))        // identical to eval: shares both grams
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 3L -> 2L))
  }

  test("bloom decontamination: zero false negatives, bounded FP rate, same docs as exact") {
    // the boolean contract the driver oracle pins: every exactly-shared
    // gram is bloom-positive (a Bloom filter cannot false-negative)
    val out = TextAnalysis.bloomDecontaminate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._3), "bloom missed an exactly-shared gram (false negative)")
    // identical doc/count output to the exact broadcast-set path
    val exact = TextAnalysis.decontaminate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet == exact)
    // FP rate near the designed fpp (~0.8% for k=7, 10 bits/item):
    // bloom-positive among truly-absent grams, bounded with slack for
    // the small filter
    val v = TextAnalysis.bloomGramVerdicts(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))).collect()
      .map(r => (r.getBoolean(2), r.getBoolean(3)))
    val absent = v.filter(!_._2)
    val fp = absent.count(_._1)
    assert(absent.nonEmpty)
    assert(fp.toDouble / absent.size < 0.03,
      s"FP rate ${fp.toDouble / absent.size} (${fp}/${absent.size})")
  }

  test("bloom probe: broadcast and shuffle-hash filter joins are row-identical") {
    // the dedup-verify contract (Dedup.BroadcastVerifyMaxRows) applied
    // to the Bloom filter side: the strategy gate may only change the
    // physical join, never the verdicts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def key(bf: Option[Boolean]) = TextAnalysis.bloomGramVerdicts(docs, broadcastFilter = bf)
      .collect().map(_.toString).toSet
    val b = key(Some(true))
    assert(b.nonEmpty)
    assert(b == key(Some(false)))
    // the auto gate derives broadcast at this scale (eval grams ≪ ceiling)
    assert(key(None) == b)
  }

  test("filter chain keeps a strict subset and every kept row passes every gate") {
    val out = TextAnalysis.filterChain(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.nonEmpty && out.length < n, s"${out.length} of $n kept")
    out.foreach { r =>
      assert(r.getAs[Double]("quality_score") >= 0.65)
      assert(r.getAs[Double]("top_bigram_frac") <= 0.05)
      assert(r.getAs[Double]("dup_trigram_frac") <= 0.05)
      assert(r.getAs[Double]("distinct_word_frac") >= 0.4)
      assert(r.getAs[String]("lang_pred") == "en")
    }
  }

  test("hashed decontamination equals the string-join form on the corpus") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = key(TextAnalysis.decontaminate(spark, sfDir))
    val hashed = key(TextAnalysis.decontaminateHashed(spark, sfDir))
    assert(plain.nonEmpty)
    assert(plain == hashed)
  }

  test("langidEval: confusion-matrix counts cover the corpus and the classifier beats chance") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val m = TextAnalysis.langidEval(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.values.sum == docs.count())
    val correct = m.collect { case ((t, p), n) if t == p => n }.sum
    // the tiny stopword heuristic is weak on this synthetic corpus
    // (~39% at sf0.001) — assert it clearly beats the 1/|langs| chance
    // floor, not an absolute bar
    val chance = 1.0 / m.keys.map(_._1).toSet.size
    assert(correct.toDouble / m.values.sum > 1.5 * chance,
      s"diagonal ${correct}/${m.values.sum}, chance $chance")
  }

  test("lenHist: bins partition the corpus, doc and token totals are conserved") {
    val hist = TextAnalysis.lenHist(spark, sfDir, binWidth = 32L).collect()
      .map(r => r.getAs[Long]("bin_lo") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    val toks = TextAnalysis.tokens(spark, sfDir).collect()
      .map(_.getAs[Long]("n_ws_tokens"))
    assert(hist.values.map(_._1).sum == toks.length, "every doc in exactly one bin")
    assert(hist.values.map(_._2).sum == toks.sum, "token totals conserved")
    val expected = toks.groupBy(n => (n / 32) * 32)
      .view.mapValues(g => (g.length.toLong, g.sum)).toMap
    assert(hist == expected)
    hist.keys.foreach(b => assert(b % 32 == 0 && b >= 0))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("chunkDedup keeps the corpus-first occurrence of each chunk, reassembly pinned by md5") {
    val out = TextAnalysis.chunkDedupFrame(docsDf(Seq(
      (0L, "a b c d e f g"),       // chunks: "a b c", "d e f", "g" — all first
      (1L, "a b c x y z"),         // "a b c" dup of d0#0; "x y z" kept
      (2L, "x y z"),               // dup of d1#1 — keeps NOTHING
      (3L, "d e f d e f"),         // both chunks dup of d0#1
      (4L, "p q r p q r p"))),     // within-doc dup: pos1 dropped, tail "p" kept
      chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[String]("kept_hash")))).toMap
    assert(out(0L) == ((3L, 3L, md5hex("a b c d e f g"))))
    assert(out(1L) == ((2L, 1L, md5hex("x y z"))))
    assert(out(2L) == ((1L, 0L, md5hex(""))))
    assert(out(3L) == ((2L, 0L, md5hex(""))))
    assert(out(4L) == ((3L, 2L, md5hex("p q r p"))))
  }

  test("chunkDedup over the corpus: planted boilerplate dedups to one survivor, kept total = distinct chunks") {
    import spark.implicits._
    val out = TextAnalysis.chunkDedup(spark, sfDir).cache()
    val docsN = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.count() == docsN)
    // each distinct chunk text survives exactly once corpus-wide
    val planted = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(TextAnalysis.ChunkDedupBoiler), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
    val distinctChunks = planted.select(explode(expr(
      """transform(sequence(0, int((size(split(text, ' ')) + 19) div 20) - 1),
        |  i -> array_join(slice(split(text, ' '), i * 20 + 1, 20), ' '))""".stripMargin))
      .as("c")).distinct().count()
    assert(out.agg(sum("n_kept")).as[Long].head() == distinctChunks)
    // all but the first planted doc lose at least the boiler chunk
    val nPlanted = (0L until docsN by 5L).size
    val lost = out.where(col("doc_id") % 5 === 0 && col("n_kept") < col("n_chunks")).count()
    assert(lost >= nPlanted - 1)
    assert(TextAnalysis.ChunkDedupBoiler.split(" ").length
      == TextAnalysis.ChunkDedupBoilerTokens)
    out.unpersist()
  }

  test("qualityRank matches percent_rank over the corpus; join modes agree") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality_score"),
        r.getAs[Double]("pct_rank"))).toSet
    val got = key(TextAnalysis.qualityRank(spark, sfDir))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("quality_score"))
    val exp = key(TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("pct_rank", percent_rank().over(w)))
    assert(got == exp)
  }

  test("dupNgrams counts corpus-duplicated 3-gram instances; join modes agree") {
    val d = docsDf(Seq(
      (0L, "a b c d"),  // grams "a b c","b c d"
      (1L, "a b c"),    // gram "a b c" — shared with d0
      (2L, "x"),        // short doc: whole-list gram "x"
      (3L, "x")))       // shared single-token gram
    val out = TextAnalysis.dupNgramsFrame(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(out(0L) == ((2L, 1L, 0.5)))
    assert(out(1L) == ((1L, 1L, 1.0)))
    assert(out(2L) == ((1L, 1L, 1.0)))
    assert(out(3L) == ((1L, 1L, 1.0)))
  }

  test("topTerms ranks rare terms over common ones at equal tf; k-bounded per doc") {
    val out = TextAnalysis.topTerms(spark, sfDir, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[Double]("score"), r.getAs[Long]("rnk")))
    assert(out.nonEmpty)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count().toDouble
    out.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.length <= 3, s"doc $doc got ${rows.length} terms")
      // ranks are 1..k and scores non-increasing in rank order
      val byRank = rows.sortBy(_._6)
      assert(byRank.map(_._6).sameElements(1L to byRank.length))
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._5 >= b._5
        case _ => true
      })
      // score is exactly tf * (n_docs / df)
      rows.foreach { t =>
        assert(t._5 == t._3.toDouble * (nDocs / t._4.toDouble)) }
    }
  }

  test("chunkWindows: brute boundary recompute; full coverage with exact overlap") {
    val (window, stride) = (20, 10)
    val out = TextAnalysis.chunkWindows(spark, sfDir, window, stride).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val toks = TextAnalysis.tokens(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == toks.keySet, "every document must be chunked")
    byDoc.foreach { case (d, chunks) =>
      val n = toks(d)
      val sorted = chunks.sortBy(_._2)
      // brute: the literal window arithmetic
      val expN = if (n <= window) 1L else (n - window + stride - 1) / stride + 1
      assert(sorted.length.toLong == expN, s"doc $d chunk count")
      sorted.foreach { case (_, i, s, e) =>
        assert(s == i * stride && e == math.min(i * stride + window, n))
      }
      // coverage: first starts at 0, last ends at n, consecutive
      // chunks overlap by exactly window - stride (no token dropped)
      assert(sorted.head._3 == 0L && sorted.last._4 == n)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b._3 == a._3 + stride && b._3 < a._4,
          s"doc $d: gap between chunks ${a._2} and ${b._2}")
      }
    }
  }

  test("dedupSpans merges overlapping duplicated-gram coverage into maximal spans") {
    val d = docsDf(Seq(
      (0L, "a b c d e f g h"),  // "a b c","b c d","c d e" dup → [1,5]
      (1L, "a b c d"),          // both grams dup → [1,4]
      (2L, "a b c Z Z Z b c d"),// dup at 1 and 7; unique word 4-6 gap → two spans
      (3L, "a b c d e"),        // all three grams dup → [1,5]
      (4L, "c d e"),            // whole-doc gram dup with d3/d0 → [1,3]
      (5L, "x"), (6L, "x")))    // short-doc whole-list gram pair → [1,1]
    val out = TextAnalysis.dedupSpansFrame(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byDoc = out.groupBy(_._1).map { case (k, v) =>
      k -> v.sortBy(_._2).map(t => (t._3, t._4, t._5)).toSeq }
    assert(byDoc(0L) == Seq((1L, 5L, 5L)))
    assert(byDoc(1L) == Seq((1L, 4L, 4L)))
    assert(byDoc(2L) == Seq((1L, 3L, 3L), (7L, 9L, 3L)))
    assert(byDoc(3L) == Seq((1L, 5L, 5L)))
    assert(byDoc(4L) == Seq((1L, 3L, 3L)))
    assert(byDoc(5L) == Seq((1L, 1L, 1L)))
    assert(byDoc(6L) == Seq((1L, 1L, 1L)))
    // span ids are 1..k per document in start order
    out.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.sortBy(_._3).map(_._2).sameElements(1L to rows.length),
        s"doc $doc span ids")
    }
  }

  test("gram trio from a MATERIALIZED gramInstances frame matches the standalone plans") {
    // the shared-pipeline contract (r10 verdict item 6): ngrams, spans
    // and rewrite are pure functions of one gram-instance frame, so a
    // pipeline may materialize it once (here: parquet round-trip, as
    // the bench's text_grams100 section does) and fan out — row-set
    // identical to each standalone query's re-materializing plan
    val d = docsDf(Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d"),
      (2L, "a b c Z Z Z b c d"),
      (3L, "q r s t u v"),
      (4L, "x"), (5L, "x")))
    val tmp = s"$tempDir/grams"
    TextAnalysis.gramInstances(d).write.parquet(tmp)
    val inst = spark.read.parquet(tmp)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextAnalysis.dupNgramsFromInstances(inst)) ==
      rows(TextAnalysis.dupNgramsFrame(d)))
    assert(rows(TextAnalysis.dedupSpansFromInstances(inst)) ==
      rows(TextAnalysis.dedupSpansFrame(d)))
    assert(rows(TextAnalysis.dedupRewriteFromInstances(d, inst)) ==
      rows(TextAnalysis.dedupRewriteFrame(d)))
  }

  test("dedupSpansIncremental == full-corpus spans restricted to delta docs") {
    // the family's equivalence witness: the incremental dup predicate
    // (base_cnt + delta_cnt > 1) IS the corpus gram count, so delta
    // docs' spans from the persisted-index path must equal the full
    // re-run's rows for those docs — all three regimes planted (gram
    // duplicated inside base, base-unique gram re-delivered by delta,
    // intra-delta repeat the base never saw)
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f"),      // base; "a b c" also in base doc 3
      (3L, "a b c x y z"),      // base
      (5L, "u v w q r s"),      // base-unique grams "u v w" ...
      (10L, "a b c p q r"),     // delta: hits base-duplicated "a b c"
      (20L, "u v w k l m"),     // delta: re-delivers base-UNIQUE "u v w"
      (30L, "n o p n o p n o p"), // delta: intra-doc repeat
      (40L, "h i j k l m n"),   // delta ∩ delta 50 share "k l m"
      (50L, "z z z k l m"))
    val dir = s"$tempDir/spans_inc"
    corpus.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val inc = TextAnalysis.dedupSpansIncremental(spark, dir)
      .collect().map(_.toSeq).toSet
    val full = TextAnalysis.dedupSpansFrame(docsDf(corpus))
      .where(col("doc_id") % 10 === 0)
      .collect().map(_.toSeq).toSet
    assert(inc == full)
    assert(inc.nonEmpty)
    // every delta regime produced at least one span
    val docsWithSpans = inc.map(_.head.asInstanceOf[Long])
    assert(Set(10L, 20L, 30L).subsetOf(docsWithSpans))
    // the rewrite pass inherits the equivalence: incremental cleaned
    // texts == the full rewrite's rows for delta docs
    val incRw = TextAnalysis.dedupRewriteIncremental(spark, dir)
      .collect().map(_.toSeq).toSet
    val fullRw = TextAnalysis.dedupRewriteFrame(docsDf(corpus))
      .where(col("doc_id") % 10 === 0)
      .collect().map(_.toSeq).toSet
    assert(incRw == fullRw)
    // doc 30 is fully boilerplate (every gram duplicated) → empties
    assert(incRw.exists(r => r.head == 30L && r(2) == 0L && r(3) == ""))
  }

  test("incremental spans/rewrite fuzz: equal the full run on delta docs for random corpora and deltaMods") {
    // the equivalence the family rests on, property-tested: for ANY
    // corpus and ANY delta convention, the persisted-index probe's
    // verdicts must equal the full-corpus run restricted to delta docs
    val rnd = new scala.util.Random(0x11C4)
    for (round <- 1 to 4) {
      val vocabN = 3 + rnd.nextInt(4)
      val docsN = 8 + rnd.nextInt(8)
      val deltaMod = 2 + rnd.nextInt(4)
      val corpus = (0 until docsN).map { id =>
        val n = 1 + rnd.nextInt(12)
        id.toLong -> Seq.fill(n)(('a' + rnd.nextInt(vocabN)).toChar.toString)
          .mkString(" ")
      }
      val dir = s"$tempDir/inc_fuzz_$round"
      import spark.implicits._
      corpus.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      val incS = rows(TextAnalysis.dedupSpansIncremental(spark, dir, deltaMod))
      val fullS = rows(TextAnalysis.dedupSpansFrame(docsDf(corpus))
        .where(col("doc_id") % deltaMod === 0))
      assert(incS == fullS, s"round $round deltaMod $deltaMod corpus: $corpus")
      val incR = rows(TextAnalysis.dedupRewriteIncremental(spark, dir, deltaMod))
      val fullR = rows(TextAnalysis.dedupRewriteFrame(docsDf(corpus))
        .where(col("doc_id") % deltaMod === 0))
      assert(incR == fullR, s"round $round deltaMod $deltaMod corpus: $corpus")
    }
  }

  test("dedupSpans fuzz: matches brute-force interval merge on random corpora") {
    val rnd = new scala.util.Random(0xD5EA)
    for (round <- 1 to 5) {
      val vocabN = 3 + rnd.nextInt(4)
      val docsN = 6 + rnd.nextInt(6)
      val corpus = (0 until docsN).map { id =>
        val n = 1 + rnd.nextInt(12)
        id.toLong -> Seq.fill(n)(('a' + rnd.nextInt(vocabN)).toChar.toString)
          .mkString(" ")
      }
      // brute: gram instances with coverage, corpus counts, merge
      def grams(text: String): Seq[(Int, Int, String)] = {
        val wl = text.split(" ", -1)
        (1 to math.max(wl.length - 2, 1)).map { i =>
          (i, math.min(i + 2, wl.length),
            wl.slice(i - 1, i + 2).mkString(" "))
        }
      }
      val cnt = corpus.flatMap(d => grams(d._2).map(_._3))
        .groupBy(identity).map { case (g, v) => g -> v.size }
      val expected = corpus.flatMap { case (id, text) =>
        val dup = grams(text).filter(g => cnt(g._3) > 1).sortBy(_._1)
        val spans = dup.foldLeft(List.empty[(Int, Int)]) {
          case (acc, (s, e, _)) => acc match {
            case (ps, pe) :: rest if s <= pe + 1 =>
              (ps, math.max(pe, e)) :: rest
            case _ => (s, e) :: acc
          }
        }.reverse
        spans.zipWithIndex.map { case ((s, e), k) =>
          (id, (k + 1).toLong, s.toLong, e.toLong, (e - s + 1).toLong) }
      }.toSet
      val got = TextAnalysis.dedupSpansFrame(docsDf(corpus)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == expected, s"round $round corpus: $corpus")
      // the rewrite is the complement of those spans, in word order
      val spansByDoc = expected.groupBy(_._1)
        .map { case (k, v) => k -> v.map(t => (t._3, t._4)) }
      val expClean = corpus.map { case (id, text) =>
        val wl = text.split(" ", -1)
        val cov = spansByDoc.getOrElse(id, Set.empty)
        val keptW = wl.zipWithIndex.collect {
          case (w, i0) if !cov.exists(s => i0 + 1 >= s._1 && i0 + 1 <= s._2) => w
        }
        id -> ((wl.length.toLong, keptW.length.toLong, keptW.mkString(" ")))
      }.toMap
      val gotClean = TextAnalysis.dedupRewriteFrame(docsDf(corpus)).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(gotClean == expClean, s"round $round rewrite, corpus: $corpus")
    }
  }

  test("decontaminateNearDup reports only cross-role pairs, labeled eval/train") {
    val evalText  = "the quick brown fox jumps over the lazy dog today"
    val trainText = "the quick brown fox jumps over the lazy dog"
    val d = docsDf(Seq(
      (10L, evalText),                      // eval (id % 10 == 0)
      (3L, trainText),                      // train paraphrase → pair
      (7L, "the quick brown cat naps xx"),  // same block, low jaccard
      (4L, "zzz boilerplate shared body"),  // intra-train identical pair:
      (5L, "zzz boilerplate shared body"),  //   must be filtered out
      (20L, "yyy eval-only shared body q"), // intra-eval identical pair:
      (30L, "yyy eval-only shared body q")))//   must be filtered out
    val out = TextAnalysis.decontaminateNearDupFrame(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1, s"exactly the planted cross pair: ${out.toSeq}")
    val (e, t, j) = out.head
    assert(e == 10L && t == 3L)
    // brute char-3-gram jaccard of the two texts, rounded like the op
    def grams(s: String) =
      (1 to math.max(s.length - 2, 1)).map(i =>
        s.substring(i - 1, math.min(i + 2, s.length))).toSet
    val (ga, gb) = (grams(evalText), grams(trainText))
    val exp = BigDecimal(ga.intersect(gb).size.toDouble /
      (ga.size + gb.size - ga.intersect(gb).size))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(j == exp && j >= 0.3)
  }

  test("dedupRewrite cuts exactly the merged spans; untouched docs round-trip") {
    val d = docsDf(Seq(
      (0L, "a b c d e f g h"),   // span [1,5] → "f g h"
      (1L, "a b c d"),           // fully covered → ''
      (2L, "a b c Z Z Z b c d"), // spans [1,3],[7,9] → "Z Z Z"
      (3L, "a b c d e"),
      (4L, "c d e"),
      (5L, "x"), (6L, "x"),
      (7L, "q r s t u")))        // no duplicated grams → identity
    val out = TextAnalysis.dedupRewriteFrame(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((8L, 3L, "f g h")))
    assert(out(1L) == ((4L, 0L, "")))
    assert(out(2L) == ((9L, 3L, "Z Z Z")))
    assert(out(3L) == ((5L, 0L, "")))
    assert(out(4L) == ((3L, 0L, "")))
    assert(out(5L) == ((1L, 0L, "")))
    assert(out(6L) == ((1L, 0L, "")))
    assert(out(7L) == ((5L, 5L, "q r s t u")))
    assert(out.size == 8, "every doc survives as a row, even when emptied")
  }
}
