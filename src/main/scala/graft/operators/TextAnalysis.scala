package graft.operators

import graft.expressions.GraftFunctions
import graft.io.{Artifact, Source}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table. Single scan, no
  * shuffle: every operator is a projection of codegen'd expressions, so
  * at 100 TB these run at full scan throughput with column pruning
  * (only `doc_id`, `text` are read).
  */
object TextAnalysis {

  def tokens(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "documents").select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))

  /** Sliding-window chunk boundaries — the RAG/embedding-prep step
    * that cuts each document into overlapping token windows: chunk i
    * covers whitespace-token positions `[i·stride, i·stride+window)`
    * clipped to the document (the tail chunk may be short; a document
    * shorter than one window is one chunk). Boundaries are emitted AS
    * METADATA (doc_id, chunk_idx, tok_start, tok_end) — the
    * [[graft.operators.Sampling.packSequences]] posture: the layout
    * decision travels as integers and the text is sliced at read
    * time, so the operator never re-materializes the corpus.
    *
    * Scale shape: one scan, one bounded `sequence` explode per doc
    * (fan-out = n/stride, proportional to the document's own length —
    * corpus-shaped output is the POINT of chunking); all arithmetic is
    * int64 off the [[tokens]] whitespace-token contract, so boundaries
    * are engine-exact. The in-plan guard fails a pathological doc with
    * its identity instead of silently exploding an executor (the
    * gapfill posture).
    */
  def chunkWindows(spark: SparkSession, dir: String,
                   window: Int = 20, stride: Int = 10,
                   maxChunksPerDoc: Long = 1000000L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(stride >= 1 && stride <= window,
      "stride must be in [1, window] (gaps between chunks lose tokens)")
    Source.table(spark, dir, "documents")
      .select(col("doc_id"), wsTokenCount(col("text")).as("n"))
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1L))
          .otherwise(expr(s"(n - $window + $stride - 1) div $stride + 1")))
      .withColumn("n_chunks",
        when(col("n_chunks") <= maxChunksPerDoc, col("n_chunks"))
          .otherwise(raise_error(concat(
            lit(s"doc exceeds $maxChunksPerDoc chunks (doc_id="),
            col("doc_id").cast("string"), lit(", n_tokens="),
            col("n").cast("string"), lit("); raise stride or the cap")))))
      .select(col("doc_id"), col("n"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * lit(stride.toLong)).as("tok_start"),
        least(col("chunk_idx") * lit(stride.toLong) + lit(window.toLong),
          col("n")).as("tok_end"))
  }

  /** Sequence-length histogram: document counts and token totals per
    * `binWidth`-token bin — the distribution a packing/truncation stage
    * reads before choosing a context length (what fraction of corpus
    * tokens live in documents longer than the cut?). One scan, one
    * bounded hash aggregate (rows = max_len / binWidth, independent of
    * corpus size); integer outputs are trivially engine-exact.
    */
  def lenHist(spark: SparkSession, dir: String, binWidth: Long = 32L): DataFrame =
    Source.table(spark, dir, "documents")
      .select(wsTokenCount(col("text")).as("n_tok"))
      .groupBy((expr(s"n_tok div ${binWidth}L") * lit(binWidth)).as("bin_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))

  def langid(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Source.table(spark, dir, "documents").select(col("doc_id"), langId(col("text")).as("lang_pred"))
  }

  /** Classifier evaluation against the corpus ground truth: the
    * (lang, lang_pred) confusion matrix in the same single scan — the
    * predicted label is a projection of the `text` column the row
    * already carries, so no join exists anywhere; one 25-cell-bounded
    * hash aggregate.
    */
  def langidEval(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Source.table(spark, dir, "documents")
      .select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }

  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(Source.table(spark, dir, "documents"))

  /** [[quality]] over an arbitrary `(doc_id, text)` frame. */
  def qualityFrame(d: DataFrame): DataFrame = {
    GraftFunctions.register(d.sparkSession)
    val nChars = length(col("text")).cast("long")
    val nTokens = wsTokenCount(col("text"))
    val alpha = alphaCount(col("text"))
    val punct = punctCount(col("text"))
    val stops = stopwordCount(col("text"))
    val alphaRatio = alpha / nChars
    val stopRatio = stops / nTokens
    d.select(
      col("doc_id"),
      nChars.as("n_chars_calc"),
      nTokens.as("n_tokens"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(punct / nChars, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(alpha / nTokens, 6).as("mean_token_alpha"),
      round(
        lit(0.4) * alphaRatio
          + lit(0.4) * least(stopRatio * 5, lit(1.0))
          + lit(0.2) * when(nTokens.between(10, 1000), 1.0).otherwise(0.0),
        6).as("quality_score"))
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Source.table(spark, dir, "documents").select(col("doc_id"),
      md5Fingerprint(col("text")).as("fp_md5"), rollingHash(col("text")).as("fp_roll"))
  }

  /** Repetition quality signals (the Gopher-rules family): distinct-word
    * fraction, the most frequent word-bigram's count and share, and the
    * duplicated-trigram share. One scan, zero shuffle: all four
    * counters come from the `graft_rep_stats` native kernel in a single
    * pass (a groupBy(doc_id, bigram) would shuffle the whole exploded
    * corpus; the interpreted HOF formulation — kept as the spec
    * reference in [[repetitionFrameHof]] — measured 11 s on the sf0.1
    * suite vs sub-second for the kernel).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionFrame(Source.table(spark, dir, "documents"))

  /** [[repetition]] over an arbitrary (doc_id, text) frame. */
  def repetitionFrame(d: DataFrame): DataFrame = {
    GraftFunctions.register(d.sparkSession)
    val st = call_function("graft_rep_stats", col("text"))
    val nw = st.getItem(0)
    d.select(
      col("doc_id"),
      nw.as("n_words"),
      round(st.getItem(1) / nw.cast("double"), 6).as("distinct_word_frac"),
      st.getItem(2).as("top_bigram_count"),
      round(when(nw >= 2, st.getItem(2) / (nw - 1).cast("double"))
        .otherwise(0.0), 6).as("top_bigram_frac"),
      round(when(nw >= 3, lit(1.0) - st.getItem(3) / (nw - 2).cast("double"))
        .otherwise(0.0), 6).as("dup_trigram_frac"))
  }

  /** Interpreted-HOF reference formulation of [[repetitionFrame]] —
    * spec-asserted identical to the kernel path (TextOpsSpec). The
    * top-bigram count is the longest equal-run in the SORTED bigram
    * array (sort + one fold); Spark's `sequence(0, n)` generates a
    * DESCENDING range when n < 0, so short documents short-circuit to
    * empty arrays.
    */
  private[operators] def repetitionFrameHof(d: DataFrame): DataFrame = {
    val words = split(trim(col("text")), " +")
    val nw = size(words)
    val bigrams = when(nw >= 2, expr(
      "transform(sequence(0, size(split(trim(text), ' +')) - 2), " +
        "i -> concat(split(trim(text), ' +')[i], ' ', split(trim(text), ' +')[i + 1]))"))
      .otherwise(array().cast("array<string>"))
    val trigrams = when(nw >= 3, expr(
      "transform(sequence(0, size(split(trim(text), ' +')) - 3), " +
        "i -> concat_ws(' ', split(trim(text), ' +')[i], " +
        "split(trim(text), ' +')[i + 1], split(trim(text), ' +')[i + 2]))"))
      .otherwise(array().cast("array<string>"))
    // longest equal-run in the sorted array == max multiplicity
    def maxRun(arr: Column): Column = {
      val folded = aggregate(
        array_sort(arr),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(acc.getField("prev") <=> x,
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        })
      folded.getField("best")
    }
    d.withColumn("nw", nw)
      .withColumn("bg", bigrams)
      .withColumn("tg", trigrams)
      .select(
        col("doc_id"),
        col("nw").cast("long").as("n_words"),
        round(size(array_distinct(words)) / col("nw").cast("double"), 6)
          .as("distinct_word_frac"),
        maxRun(col("bg")).as("top_bigram_count"),
        round(when(col("nw") >= 2,
          maxRun(col("bg")) / (col("nw") - 1).cast("double")).otherwise(0.0), 6)
          .as("top_bigram_frac"),
        round(when(col("nw") >= 3,
          lit(1.0) - size(array_distinct(col("tg"))) / (col("nw") - 2).cast("double"))
          .otherwise(0.0), 6)
          .as("dup_trigram_frac"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-3-gram with a designated eval set (here: `doc_id % 50 == 0`,
    * the driver-data stand-in for an eval benchmark), reporting how many
    * distinct grams leak. The industry-standard n-gram-overlap
    * decontamination shape (eval sets are small; training corpora are
    * the 100 TB side).
    *
    * Scale shape: the train side explodes to (doc_id, gram) and joins
    * the BROADCAST distinct eval-gram set — the corpus-sized side
    * shuffles only for its own per-document count aggregate, never
    * against eval. Gram strings come from the codegen'd
    * `graft_word_shingles` kernel (already distinct per document).
    * At petabyte scale, swap the gram string for its xxhash64
    * ([[hashedGramJoin]]) to shrink shuffle/broadcast bytes — spec'd
    * identical on the shipped corpus.
    */
  /** Corpus vocabulary: the `k` most frequent tokens with their counts
    * (deterministic (count desc, token) tiebreak) — the
    * vocabulary-building / tokenizer-training pass of a data pipeline.
    * Classic word-count shape: explode + hash aggregate with map-side
    * combine (the vocabulary, not the corpus, is the reduce-side
    * volume), then a two-phase distributed top-k
    * (`TakeOrderedAndProject` — per-partition heads merged on the
    * driver, never a global sort of the vocabulary).
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Source.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-document corpus-frequency score — the LM-lite rarity signal
    * quality filters use where a real language model is unavailable:
    * `commonness = mean over the doc's tokens of P(token in corpus)`.
    * Unusually low = rare/garbled vocabulary; unusually high =
    * boilerplate. Two passes over one scan shape: (1) the corpus word
    * count (reduce volume = the VOCABULARY, map-side combined),
    * broadcast back onto the exploded token stream — then (2)
    * re-aggregate per document
    * (tokens of a doc are co-located from the scan, so the partial
    * aggregate reduces to ~one row per doc per partition before the
    * doc_id shuffle). Everything is exact BIGINT until one final IEEE
    * chain `(Σcnt / total) / n_tokens` — engine-reproducible, no
    * logarithms (libm-vs-JVM 1-ulp risk) in the contract.
    */
  def docFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = Source.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val vocab = broadcast(toks.groupBy(col("token")).agg(count(lit(1)).as("cnt")))
    // one global total: a 1-row aggregate, cross-joined (broadcast) onto
    // the per-doc rows — never a driver-side collect in the plan
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(vocab, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("tf_sum"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("tf_sum"),
        (col("tf_sum").cast("double") / col("total").cast("double")
          / col("n_tokens").cast("double")).as("commonness"))
  }

  /** Corpus-bigram LM cohesion per document — the quality-filter
    * signal a CCNet-style pipeline derives from a language model, here
    * from the corpus's OWN bigram statistics (the LM a pipeline can
    * always afford): per document, over its adjacent token pairs,
    * `cohesion = Σ count(w1,w2) / Σ count(w1)` — the count-weighted
    * conditional bigram probability. Low = token sequences the corpus
    * never produces (garbled/boilerplate-free junk); high = heavily
    * templated text. The textbook statistic is the mean of per-bigram
    * ratios (log-perplexity), but a mean of IEEE quotients is
    * order-dependent and a log rides libm — this ratio-of-sums cousin
    * is exact BIGINT until ONE final IEEE division (the [[docFreq]]
    * contract), so it hash-matches across engines.
    *
    * Scale shape: bigrams come from one array `transform` over the
    * whitespace-filtered token array — in-codegen, no shuffle, no
    * self-join on position. Both count tables are VOCABULARY-sized
    * (bigram vocabulary ≪ corpus; map-side-combined aggregates), and
    * both join back broadcast. The per-doc re-aggregate reduces
    * ~per-partition before the doc_id shuffle (scan co-location). Docs
    * with <2 tokens have no bigrams and drop on both engines.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmFrame(Source.table(spark, dir, "documents"))

  /** [[bigramLm]] over a caller-supplied `(doc_id, text)` frame. */
  def bigramLmFrame(d: DataFrame): DataFrame = {
    val toksArr = filter(split(col("text"), " "), (t: Column) => t =!= "")
    val base = d.select(col("doc_id"), toksArr.as("toks"))
    val bg = base.where(size(col("toks")) > 1)
      .select(col("doc_id"), explode(transform(
        slice(col("toks"), lit(1), size(col("toks")) - lit(1)),
        (w: Column, i: Column) => struct(w.as("w1"),
          element_at(col("toks"), i + lit(2)).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uniC = broadcast(base.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c1")))
    val bigC = broadcast(bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    bg.join(bigC, Seq("w1", "w2"))
      .join(uniC, col("w1") === col("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c12")).as("joint_sum"),
        sum(col("c1")).as("cond_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("joint_sum"),
        col("cond_sum"),
        (col("joint_sum").cast("double") / col("cond_sum").cast("double"))
          .as("cohesion"))
  }

  /** DF-discounted top-k terms per document — the keyword-extraction
    * pass (TF-IDF-family): `score = tf · (n_docs / df)` with a LINEAR
    * idf, because a log idf would hinge on libm `ln` parity — `log` is
    * NOT IEEE-correctly-rounded and differs across engines/builds,
    * while this chain is integers → one division → one multiply,
    * engine-exact (the sample_temperature sqrt lesson, applied to
    * ranking). Same two-pass shape as [[docFreq]]: tf is one
    * (doc, token) aggregate, df one vocabulary-sized aggregate
    * broadcast back, n_docs a one-row broadcast; the top-k rank runs
    * per doc over its distinct-token frame with a (score desc, token)
    * total order. Output ∝ docs × k.
    */
  def topTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Source.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfSide = broadcast(toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df")))
    val nDocs = Source.table(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfSide, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double")
        * (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  // PII patterns, deliberately restricted to syntax with identical
  // semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
  // classes, bounded repetition, non-capturing groups, ASCII \b.
  private[operators] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[operators] val PhoneRe = """\+\d[\d-]{6,}\d"""
  private[operators] val Ipv4Re  = """\b(?:\d{1,3}\.){3}\d{1,3}\b"""

  /** PII detection + redaction: count and scrub emails, phone numbers
    * and IPv4 addresses — the privacy-hygiene pass every training-data
    * pipeline runs before tokenization. Pure projection (count + chained
    * `regexp_replace` per row), so it composes with [[filterChain]] at
    * full scan throughput: no shuffle, no join, column-pruned scan.
    *
    * The shipped synthetic corpus is digit-free, so the entry PLANTS
    * deterministic PII derived from `doc_id` (same derivation in the
    * DuckDB oracle) — the hash comparison then genuinely exercises
    * regex-engine parity and replacement order instead of passing on an
    * all-zero no-op. On a real corpus, call [[piiScrubFrame]] on the raw
    * text column.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = Source.table(spark, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or admin-"),
        col("doc_id").cast("string"), lit("@mail.test.org call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string")).as("text"))
    piiScrubFrame(planted)
  }

  /** The scrub over an arbitrary `(doc_id, text)` frame: match counts on
    * the ORIGINAL text plus an md5 of the redacted text (emails first,
    * then phones, then IPs — order is part of the contract since
    * replacements can overlap).
    */
  def piiScrubFrame(d: DataFrame): DataFrame = d.select(
    col("doc_id"),
    regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
    regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
    regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ip"),
    md5(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>")).as("scrub_hash"))

  def decontaminate(spark: SparkSession, dir: String,
                    evalMod: Int = 50): DataFrame =
    decontaminateFrame(Source.table(spark, dir, "documents"), evalMod)

  /** [[decontaminate]] over an arbitrary (doc_id, text) frame. */
  def decontaminateFrame(d: DataFrame, evalMod: Int = 50): DataFrame = {
    GraftFunctions.register(d.sparkSession)
    val grams = call_function("graft_word_shingles", col("text"))
    val evalGrams = d.where(col("doc_id") % evalMod === 0)
      .select(explode(grams).as("gram")).distinct()
    d.where(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(grams).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** NEAR-duplicate decontamination report — eval-vs-train leakage at
    * the Jaccard grain, which the exact-shingle membership tests
    * ([[decontaminateFrame]], [[bloomDecontaminate]]) miss by design: a
    * lightly-paraphrased benchmark item shares few exact 8-gram
    * shingles with its source but sits well above any n-gram-Jaccard
    * near-dup threshold. Emits `(eval_doc, train_doc, jaccard)` for
    * every cross-role pair — the audit table a training run publishes
    * before claiming its eval is clean (eval membership = the
    * [[decontaminateFrame]] id-mod convention).
    *
    * Scale shape: exactly [[Dedup.ngramJaccardFrame]]'s contract
    * (prefix-blocked candidate join, quadratic only inside blocks) plus
    * a role filter on the pair stream — intra-eval and intra-train
    * pairs drop before any further work. No second pass.
    */
  def decontaminateNearDup(spark: SparkSession, dir: String,
                           evalMod: Int = 10,
                           threshold: Double = 0.3): DataFrame =
    decontaminateNearDupFrame(Source.table(spark, dir, "documents"), evalMod, threshold)

  /** [[decontaminateNearDup]] over an arbitrary `(doc_id, text)` frame. */
  def decontaminateNearDupFrame(d: DataFrame, evalMod: Int = 10,
                                threshold: Double = 0.3): DataFrame = {
    val isEvalA = col("doc_a") % evalMod === 0
    val isEvalB = col("doc_b") % evalMod === 0
    Dedup.ngramJaccardFrame(d, threshold)
      .where(isEvalA =!= isEvalB)
      .select(
        when(isEvalA, col("doc_a")).otherwise(col("doc_b")).as("eval_doc"),
        when(isEvalA, col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
        col("jaccard"))
  }

  /** DISTRIBUTED-Bloom decontamination — the membership-test shape for
    * a contamination set too large to broadcast as grams (dedup of new
    * data against an existing trillion-gram corpus, leaked-benchmark
    * scrubbing against a huge held-out suite). [[decontaminateFrame]]
    * broadcasts the eval gram set itself — right while the set is
    * benchmark-sized; this variant materializes a Bloom filter AS A
    * DATAFRAME and keeps every step relational:
    *
    *  - build: each distinct eval gram sets `numHashes` bits at
    *    `pmod(xxhash64(gram, seed), m)`; bits OR-pack into 64-bit words
    *    by ONE `bit_or` aggregate keyed on `word_id = bit div 64` — the
    *    filter is an (word_id, word) frame of m/64 rows, 64× denser
    *    than a row-per-bit layout. m is data-derived (count ×
    *    bitsPerItem, one broadcast row — no driver collect).
    *  - probe: corpus grams explode to (word_id, mask) per seed and
    *    equi-join the filter on word_id; a gram is bloom-positive iff
    *    ALL `numHashes` probes find their bit set. The filter-side
    *    join strategy is SIZED FROM THE DATA, not hard-coded (the
    *    [[graft.operators.Dedup.BroadcastVerifyMaxRows]] contract):
    *    below [[BroadcastFilterMaxWords]] packed words the filter (and
    *    the gram set feeding the exact-hit column) broadcast; beyond
    *    the ceiling both joins switch to shuffle-hash on word_id /
    *    gram — co-partitioned, no driver filter, no UDF, and the
    *    filter build is a single associative aggregate (the property a
    *    billion-gram set needs; 10 bits/item ≈ 1.2 GB per 10⁹ grams,
    *    which would have been force-broadcast before the gate).
    *
    * Output: the exact-contaminated docs with their shared-gram counts
    * plus `bloom_covers` — TRUE iff every exactly-shared gram is also
    * bloom-positive. Bloom filters cannot false-negative, so the
    * column is the gate-checkable implication (the oracle pins TRUE,
    * like the quantile band): any build/probe drift — m mismatch, seed
    * skew, packing bug — flips rows and fails the hash. The FP rate
    * (possible but harmless for decontamination: an extra doc gets
    * reviewed) is spec-bounded near the designed ~0.8% for k=7,
    * 10 bits/item.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String,
                         evalMod: Int = 50, bitsPerItem: Int = 10,
                         numHashes: Int = 7): DataFrame =
    bloomDecontaminateFrame(Source.table(spark, dir, "documents"), evalMod, bitsPerItem, numHashes)

  /** [[bloomDecontaminate]] over an arbitrary (doc_id, text) frame. */
  def bloomDecontaminateFrame(d: DataFrame, evalMod: Int = 50,
                              bitsPerItem: Int = 10,
                              numHashes: Int = 7): DataFrame =
    bloomGramVerdicts(d, evalMod, bitsPerItem, numHashes)
      .where(col("exact_hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"),
        min(col("bloom_hit")).as("bloom_covers"))

  /** Filter-side broadcast ceiling, in PACKED 64-BIT WORDS (the unit
    * the probe join actually ships: m/64 rows of (word_id, word) ≈
    * 16 B/row unsafe — ~16 MB hashed at the ceiling). The filter's
    * word count is `⌈distinct-grams × bitsPerItem / 64⌉`, derived from
    * one bounded count over the eval slice (1/evalMod of the corpus —
    * vocabulary-sized next to the probe scan), so the strategy is
    * sized from the data with no per-corpus knob to mis-set: a
    * 10⁹-gram contamination set (~150M words ≈ 1.2 GB packed) lands
    * far beyond the ceiling and BOTH filter-side joins — the word_id
    * probe and the exact-hit gram join — shuffle-hash instead of
    * broadcasting, each co-partitioned on its own key. The spec pins
    * the two strategies row-identical over the same corpus through
    * [[bloomGramVerdicts]] (the dedup-verify contract,
    * Dedup.BroadcastVerifyMaxRows).
    */
  private[graft] val BroadcastFilterMaxWords = 1000000L

  /** The build + probe shared by the entry and the FP-rate spec:
    * per corpus gram, `(doc_id, gram, bloom_hit, exact_hit)`.
    * `broadcastFilter = None` (every production caller) sizes the
    * filter-side join strategy from the eval-gram count against
    * [[BroadcastFilterMaxWords]]; Some(x) pins it (the spec and the
    * bench's `bloom_paths` section use both pins).
    */
  private[graft] def bloomGramVerdicts(d: DataFrame, evalMod: Int = 50,
                                       bitsPerItem: Int = 10,
                                       numHashes: Int = 7,
                                       broadcastFilter: Option[Boolean] = None)
      : DataFrame = {
    require(bitsPerItem >= 1, "bitsPerItem must be >= 1")
    require(numHashes >= 1 && numHashes <= 32, "numHashes must be in [1,32]")
    GraftFunctions.register(d.sparkSession)
    val grams = call_function("graft_word_shingles", col("text"))
    val evalGrams = d.where(col("doc_id") % evalMod === 0)
      .select(explode(grams).as("gram")).distinct()
    val bcastFilter = broadcastFilter.getOrElse {
      val words = evalGrams.count() * bitsPerItem / 64 + 1
      words <= BroadcastFilterMaxWords
    }
    def filterSide(f: DataFrame): DataFrame =
      if (bcastFilter) broadcast(f) else f.hint("shuffle_hash")
    val mB = broadcast(evalGrams.agg(
      greatest(lit(64L), count(lit(1)) * bitsPerItem).as("m_bits")))
    val seed = explode(sequence(lit(0), lit(numHashes - 1))).as("seed")
    val filterWords = evalGrams.crossJoin(mB)
      .select(col("gram"), col("m_bits"), seed)
      .select(pmod(xxhash64(col("gram"), col("seed")), col("m_bits")).as("bit"))
      .select(expr("bit div 64").as("word_id"),
        expr("shiftleft(1L, cast(bit % 64 AS INT))").as("mask"))
      .groupBy(col("word_id")).agg(expr("bit_or(mask)").as("word"))
    val corpus = d.where(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(grams).as("gram"))
    val hits = corpus.crossJoin(mB)
      .select(col("doc_id"), col("gram"), col("m_bits"), seed)
      .select(col("doc_id"), col("gram"),
        pmod(xxhash64(col("gram"), col("seed")), col("m_bits")).as("bit"))
      .select(col("doc_id"), col("gram"),
        expr("bit div 64").as("word_id"),
        expr("shiftleft(1L, cast(bit % 64 AS INT))").as("mask"))
      .join(filterSide(filterWords), Seq("word_id"))
      .where(col("word").bitwiseAND(col("mask")) === col("mask"))
      .groupBy(col("doc_id"), col("gram"))
      .agg((count(lit(1)) === numHashes).as("bloom_hit"))
    corpus
      .join(hits, Seq("doc_id", "gram"), "left_outer")
      .join(filterSide(evalGrams.withColumn("exact_hit", lit(true))),
        Seq("gram"), "left_outer")
      .select(col("doc_id"), col("gram"),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"),
        coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
  }

  /** The quality-filter chain a corpus pipeline runs before training:
    * keep documents passing the heuristic quality score, the repetition
    * bounds, and the language gate — all computed in ONE scan (the
    * quality expressions, the `graft_rep_stats` kernel, and the langid
    * heuristic are projections; no joins between the signals).
    * Thresholds compare the ROUNDED signal values, so the kept set is
    * stable across engines computing the same rounded columns.
    */
  def filterChain(spark: SparkSession, dir: String,
                  minQuality: Double = 0.65,
                  maxTopBigramFrac: Double = 0.05,
                  maxDupTrigramFrac: Double = 0.05,
                  minDistinctWordFrac: Double = 0.4,
                  lang: String = "en"): DataFrame = {
    GraftFunctions.register(spark)
    val nChars = length(col("text")).cast("long")
    val nTokens = wsTokenCount(col("text"))
    val alpha = alphaCount(col("text"))
    val stops = stopwordCount(col("text"))
    val alphaRatio = alpha / nChars
    val stopRatio = stops / nTokens
    val qualityScore = round(
      lit(0.4) * alphaRatio
        + lit(0.4) * least(stopRatio * 5, lit(1.0))
        + lit(0.2) * when(nTokens.between(10, 1000), 1.0).otherwise(0.0), 6)
    val st = call_function("graft_rep_stats", col("text"))
    val nw = st.getItem(0)
    val topBigramFrac = round(when(nw >= 2,
      st.getItem(2) / (nw - 1).cast("double")).otherwise(0.0), 6)
    val dupTrigramFrac = round(when(nw >= 3,
      lit(1.0) - st.getItem(3) / (nw - 2).cast("double")).otherwise(0.0), 6)
    val distinctWordFrac = round(st.getItem(1) / nw.cast("double"), 6)
    Source.table(spark, dir, "documents")
      .select(col("doc_id"), qualityScore.as("quality_score"),
        topBigramFrac.as("top_bigram_frac"),
        dupTrigramFrac.as("dup_trigram_frac"),
        distinctWordFrac.as("distinct_word_frac"),
        langId(col("text")).as("lang_pred"))
      .where(col("quality_score") >= minQuality &&
        col("top_bigram_frac") <= maxTopBigramFrac &&
        col("dup_trigram_frac") <= maxDupTrigramFrac &&
        col("distinct_word_frac") >= minDistinctWordFrac &&
        col("lang_pred") === lang)
  }

  /** [[decontaminate]] joining on xxhash64(gram) instead of the gram
    * string — the petabyte-scale form (8-byte join keys; false positives
    * need a 64-bit collision *within the eval set's grams*, vanishingly
    * rare at any real eval-set size).
    */
  def decontaminateHashed(spark: SparkSession, dir: String,
                          evalMod: Int = 50): DataFrame = {
    GraftFunctions.register(spark)
    val d = Source.table(spark, dir, "documents")
    val grams = call_function("graft_word_shingles", col("text"))
    val evalGrams = d.where(col("doc_id") % evalMod === 0)
      .select(explode(grams).as("g")).select(xxhash64(col("g")).as("gh"))
      .distinct()
    d.where(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .join(broadcast(evalGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Exactly `ChunkDedupBoilerTokens` whitespace tokens — the planted
    * cross-document boilerplate for [[chunkDedup]] (the shipped corpus
    * has no newline-delimited paragraphs and an effectively
    * collision-free 20-token chunk space, so without planting the
    * dedup would be a no-op and prove nothing).
    */
  val ChunkDedupBoiler: String =
    "click here to accept all cookies and subscribe to our newsletter " +
      "for the latest updates because terms of service apply"
  private[operators] val ChunkDedupBoilerTokens = 20

  /** Paragraph-level exact dedup over fixed `chunkTokens`-token windows
    * — the CCNet / RefinedWeb "remove duplicated paragraphs
    * corpus-wide" pass, adapted to fixed-size chunks because the
    * synthetic corpus has no paragraph breaks. Every document is split
    * into consecutive `chunkTokens`-token chunks; a chunk instance
    * survives iff it is the corpus-FIRST occurrence of that exact text
    * (total order `(doc_id, pos)` — deterministic, append-stable for a
    * doc_id-ordered corpus). Output per document: chunk counts and an
    * md5 of the surviving text, so the gate pins the reassembly too.
    *
    * Shape at 100 TB: ONE shuffle of the corpus text keyed on the
    * chunk (the window partition key), then a codegen'd `row_number`
    * — never a self-join of the corpus against itself, never
    * driver-side state. The per-doc reassembly re-shuffles only the
    * surviving rows on `doc_id`. For petabyte corpora where shuffling
    * raw chunk text dominates, key the window on `xxhash64(chunk)`
    * instead (8-byte shuffle keys, false merges need a 64-bit
    * collision); kept exact here because the gate hashes values.
    *
    * Docs with `doc_id % boilerMod == 0` get [[ChunkDedupBoiler]]
    * prepended (chunk-0-aligned) on BOTH engines, so the dedup
    * genuinely fires across documents instead of passing vacuously.
    */
  def chunkDedup(spark: SparkSession, dir: String,
                 chunkTokens: Int = ChunkDedupBoilerTokens,
                 boilerMod: Int = 5): DataFrame = {
    val planted = Source.table(spark, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % boilerMod === 0,
        concat(lit(ChunkDedupBoiler), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    chunkDedupFrame(planted, chunkTokens)
  }

  /** [[chunkDedup]] over an arbitrary `(doc_id, text)` frame. */
  def chunkDedupFrame(d: DataFrame, chunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val k = chunkTokens
    // consecutive k-token windows; the final partial window is a chunk
    // (sequence is never descending: split("", " ") = [""], so n >= 1).
    // The token array is materialized once per row — an inlined
    // split(text) would re-tokenize per chunk index (the dup_ngrams
    // lesson)
    val chunks = d
      .select(col("doc_id"), split(col("text"), " ").as("wl"))
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, int((size(wl) + ${k - 1}) div $k) - 1),
             |  i -> array_join(slice(wl, i * $k + 1, $k), ' '))"""
            .stripMargin)).as(Seq("pos", "chunk")))
    val first = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id"), col("pos"))
    chunks
      .withColumn("kept", row_number().over(first) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("kept").cast("long")).as("n_kept"),
        // order-insensitive aggregate + array_sort on (pos, chunk)
        // structs = deterministic reassembly without an ordered
        // collect; collect_list drops the NULL (un-kept) entries
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("kept_hash"))
  }

  /** Corpus percentile rank of every document's quality score WITHOUT
    * a global sort — the "keep the top X% by quality" filter stage
    * (FineWeb-style threshold-by-quantile) made scalable: ranking 100
    * TB of documents through one `percent_rank` window would serialize
    * the corpus into a single sorted task, so instead (1) one
    * map-side-combined aggregate reduces the corpus to its score
    * HISTOGRAM (rows = distinct ROUNDED scores, corpus-size-
    * independent — the round(,6) already in the quality contract is
    * what bounds it), (2) a window cumsum over that bounded frame
    * yields `n_below` per score (single-task, but histogram-sized),
    * (3) the histogram joins back broadcast. `pct_rank =
    * n_below / (N − 1)` with ties sharing a rank — exactly SQL
    * `PERCENT_RANK()`, which is what the oracle runs; integers until
    * the one final IEEE division.
    */
  def qualityRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = quality(spark, dir).select(col("doc_id"), col("quality_score"))
    val w = Window.orderBy(col("quality_score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = broadcast(scored.groupBy(col("quality_score")).agg(count(lit(1)).as("cnt"))
      .withColumn("n_below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .drop("cnt"))
    val total = scored.agg(count(lit(1)).as("total"))
    scored.join(hist, "quality_score")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality_score"),
        when(col("total") === 1L, 0.0)
          .otherwise(col("n_below").cast("double")
            / (col("total") - 1L).cast("double")).as("pct_rank"))
  }

  /** Per-document duplicated-n-gram fraction — the repetition-across-
    * the-corpus quality signal from "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al., 2022), at n-gram rather than
    * suffix-array granularity: for each document, the fraction of its
    * word-3-gram INSTANCES whose gram text occurs more than once in
    * the whole corpus. High `dup_frac` = boilerplate-heavy document a
    * substring-dedup pass would shrink. Gram construction matches
    * [[decontaminateFrame]] (windows of 3, whole list when shorter)
    * but keeps every instance — duplication, not membership, is the
    * signal.
    *
    * Same two-pass shape (and the same scale contract) as [[docFreq]]:
    * the corpus gram count is map-side combined down to the gram
    * VOCABULARY before its shuffle, joined back broadcast, then one
    * per-doc re-aggregate. All integers until the single final IEEE
    * division.
    */
  def dupNgrams(spark: SparkSession, dir: String): DataFrame =
    dupNgramsFrame(Source.table(spark, dir, "documents"))

  /** [[dupNgrams]] over an arbitrary `(doc_id, text)` frame. */
  def dupNgramsFrame(d: DataFrame): DataFrame =
    dupNgramsFromInstances(gramInstances(d))

  /** The word-3-gram INSTANCE frame `(doc_id, i, end_w, gram)` — the
    * shared upstream of the whole substring-dedup trio
    * ([[dupNgramsFrame]] / [[dedupSpansFrame]] / [[dedupRewriteFrame]]):
    * one gram instance per window of 3 (the whole word list when
    * shorter), with its 1-based start `i` and covered-interval end
    * `end_w`. All three consumers are pure functions of this frame (+
    * the doc frame for the rewrite's word pass), so a pipeline running
    * more than one of them should MATERIALIZE it once (parquet /
    * checkpoint) and fan out — the gram explode is the trio's dominant
    * cost and re-running it per consumer triples the corpus pass
    * (r10 verdict item 6; the bench's `text_grams100` section measures
    * the shared-vs-standalone walls at 100×).
    */
  def gramInstances(d: DataFrame): DataFrame =
    // materialize the token array ONCE per row before the gram lambda:
    // inlining split(text) into the transform re-tokenizes the document
    // for every gram index (measured 6× on this op)
    d.select(col("doc_id"), split(col("text"), " ").as("wl"))
      .select(col("doc_id"), size(col("wl")).as("n_words"),
        explode(expr(
          """transform(
            |  sequence(1, greatest(size(wl) - 2, 1)),
            |  i -> struct(i AS i, array_join(slice(wl, i, 3), ' ') AS gram))"""
            .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.i").cast("long").as("i"),
        least(col("g.i") + 2, col("n_words")).cast("long").as("end_w"),
        col("g.gram").as("gram"))

  /** [[gramInstances]] over the shipped corpus (bench hook). */
  def gramInstances(spark: SparkSession, dir: String): DataFrame =
    gramInstances(Source.table(spark, dir, "documents"))

  /** [[dupNgramsFrame]] from a (possibly pre-materialized)
    * [[gramInstances]] frame.
    */
  def dupNgramsFromInstances(inst0: DataFrame): DataFrame = {
    val inst = inst0.select(col("doc_id"), col("gram"))
    val vocab = broadcast(inst.groupBy(col("gram")).agg(count(lit(1)).as("cnt")))
    inst.join(vocab, "gram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
  }

  /** Maximal corpus-duplicated SPANS per document — the span-grain
    * output of suffix-array substring dedup ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al., 2022 §3),
    * approximated at word-3-gram resolution: a word position is
    * "covered" when some corpus-duplicated 3-gram instance includes it
    * ([[dupNgramsFrame]]'s signal, kept at POSITION grain instead of
    * counted), and overlapping/adjacent covered intervals merge into
    * maximal spans. Output is one row per span `(doc_id, span_id,
    * start_word, end_word, span_words)` — exactly what a rewrite pass
    * cuts, and what [[dupNgramsFrame]]'s `dup_frac` only summarizes.
    *
    * The interval merge is gaps-and-islands: per document, duplicated
    * gram starts ascend; a new island opens when a start clears the
    * running max covered end by ≥2 words (`i > prev_max + 1` — touching
    * or overlapping intervals coalesce, a one-word unique gap splits).
    * All-integer (positions), so the oracle pins it by hash.
    *
    * Scale shape: the corpus pass is [[dupNgramsFrame]]'s contract —
    * gram instances map-side-combine to the gram VOCABULARY before the
    * shuffle, duplicated membership joins back broadcast. The merge
    * itself shuffles once on doc_id and runs two codegen'd window
    * frames whose partition is ONE document's duplicated positions
    * (bounded by doc length, corpus-size-independent); span rows
    * out ≤ gram instances in. No global sort,
    * no driver state — the same posture at 100 TB.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSpansFrame(Source.table(spark, dir, "documents"))

  /** The REWRITE pass over [[dedupSpans]]: every word position covered
    * by a maximal corpus-duplicated span is CUT and the survivors
    * re-join into `clean_text` — the output corpus of substring dedup
    * (Lee et al. 2022 apply exactly this: train on the rewritten
    * corpus, not the filtered one). Per doc: original word count, kept
    * word count, and the cleaned text ('' when every word was
    * duplicated boilerplate — the document empties rather than
    * disappears, so downstream length filters see it).
    *
    * Scale shape: [[dedupSpansFrame]]'s contract for the span pass;
    * the cut is one doc_id equi-join (words × spans co-partitioned,
    * span count per doc bounded by doc length) filtered on the
    * position range, then one per-doc re-aggregate whose state is the
    * document's own surviving words — the same per-row bound every
    * text kernel here lives with. No global sort; word order is
    * restored per doc by an in-row array_sort.
    */
  def dedupRewrite(spark: SparkSession, dir: String): DataFrame =
    dedupRewriteFrame(Source.table(spark, dir, "documents"))

  /** [[dedupRewrite]] over an arbitrary `(doc_id, text)` frame. */
  def dedupRewriteFrame(d: DataFrame): DataFrame =
    dedupRewriteFromInstances(d, gramInstances(d))

  /** [[dedupRewriteFrame]] from a pre-materialized [[gramInstances]]
    * frame (plus the doc frame for the word pass).
    */
  def dedupRewriteFromInstances(d: DataFrame, inst: DataFrame): DataFrame =
    rewriteFromSpans(d, dedupSpansFromInstances(inst))

  /** INCREMENTAL rewrite — the delta docs' cleaned texts off
    * [[dedupSpansIncremental]]'s spans: the end-to-end substring-dedup
    * maintenance read (yesterday's corpus is already rewritten; today
    * only the delta's words are exploded and cut). Same contract as
    * [[dedupRewrite]] restricted to delta docs under the
    * combined-corpus duplicated-gram definition.
    */
  def dedupRewriteIncremental(spark: SparkSession, dir: String,
                              deltaMod: Int = 10): DataFrame =
    rewriteFromSpans(
      Source.table(spark, dir, "documents").where(col("doc_id") % deltaMod === 0),
      dedupSpansIncremental(spark, dir, deltaMod))

  /** The span-cut + survivor re-join tail shared by the full and
    * incremental rewrites: words of `d` cut by `spans0`'s position
    * ranges, re-joined per doc in position order, `''` (never a
    * dropped row) for fully-covered docs.
    */
  private def rewriteFromSpans(d: DataFrame, spans0: DataFrame): DataFrame = {
    val spans = spans0
      .select(col("doc_id"), col("start_word"), col("end_word"))
    val words = d
      .select(col("doc_id"), split(col("text"), " ").as("wl"))
      .select(col("doc_id"), size(col("wl")).cast("long").as("n_words"),
        posexplode(col("wl")).as(Seq("p0", "word")))
      .select(col("doc_id"), col("n_words"),
        (col("p0") + 1).cast("long").as("pos"), col("word"))
    // both sides derive from `d`, so they share attributes: the
    // aliases let the condition name each side explicitly
    val cut = words.as("w").join(spans.as("s"),
      col("w.doc_id") === col("s.doc_id") &&
        col("w.pos") >= col("s.start_word") && col("w.pos") <= col("s.end_word"),
      "left_anti")
    val rebuilt = cut
      .groupBy(col("doc_id"))
      .agg(first(col("n_words")).as("n_words"),
        count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(pos, word))), x -> x.word)"), " ").as("clean_text"))
    // fully-boilerplate docs lose every word: re-attach with '' text
    d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("all_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), col("all_words")).as("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** [[dedupSpans]] over an arbitrary `(doc_id, text)` frame. */
  def dedupSpansFrame(d: DataFrame): DataFrame =
    dedupSpansFromInstances(gramInstances(d))

  /** [[dedupSpansFrame]] from a pre-materialized [[gramInstances]]
    * frame.
    */
  def dedupSpansFromInstances(inst: DataFrame): DataFrame = {
    val vocab = broadcast(inst.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("gram")))
    spansFromDupInstances(inst.join(vocab, "gram")
      .select(col("doc_id"), col("i"), col("end_w")))
  }

  /** The gaps-and-islands merge over an already-selected duplicated
    * gram-instance frame `(doc_id, i, end_w)` — shared by the full
    * [[dedupSpansFrame]] and the incremental variant (whose
    * "duplicated" predicate spans base index + delta). Two codegen'd
    * window frames whose partition is one document's duplicated
    * positions; corpus-size-independent.
    */
  /** Persisted BASE gram-vocabulary index for
    * [[dedupSpansIncremental]]: `(gram, cnt)` over the base corpus
    * (`doc_id % deltaMod != 0`), written once as an
    * [[graft.io.Artifact]]. COUNTS, not membership: a
    * base-unique gram re-delivered by the delta becomes corpus-
    * duplicated, so the probe needs `base_cnt + delta_cnt > 1`, and
    * the index append after acceptance is a count merge.
    */
  private def ensureGramVocabIndex(spark: SparkSession, dir: String,
                                   deltaMod: Int): String =
    Artifact.ensure(spark, "gram-vocab-index", s"$dir/documents.parquet", deltaMod) { path =>
      gramInstances(Source.table(spark, dir, "documents")
          .where(col("doc_id") % deltaMod =!= 0))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$path/vocab")
    }

  /** `(delta_rows, index_rows)` evidence for the substring-dedup
    * incremental scale legs — [[graft.operators.Dedup.incrementalStats]]'s
    * contract at the gram grain: delta_rows is the delta DOC count the
    * daily run explodes, index_rows the persisted gram-vocabulary rows
    * it probes. Pure evidence, never part of a timed leg.
    */
  def incrementalStats(spark: SparkSession, dir: String,
                       deltaMod: Int = 10): (Long, Long) = {
    val path = ensureGramVocabIndex(spark, dir, deltaMod)
    (Source.table(spark, dir, "documents").where(col("doc_id") % deltaMod === 0).count(),
      Source.rows(spark, s"$path/vocab"))
  }

  /** INCREMENTAL substring dedup — [[dedupSpans]]'s corpus-maintenance
    * posture, the fifth member of the incremental family (exact /
    * minhash / simhash / embedding precedents in [[Dedup]]): today's
    * delta (`doc_id % deltaMod == 0`) probes the PERSISTED base gram
    * vocabulary instead of re-exploding the corpus, so the daily cost
    * is O(delta grams + index probe), never O(corpus grams). A delta
    * gram instance is corpus-duplicated when
    * `base_cnt + delta_cnt > 1` — this catches all three regimes: a
    * gram already duplicated in the base, a base-UNIQUE gram the delta
    * re-delivers (total reaches 2), and an intra-delta repeat the base
    * never saw. Spans then merge gaps-and-islands per delta doc via
    * the shared [[spansFromDupInstances]] — identical output grain to
    * [[dedupSpans]] restricted to delta docs under the combined-corpus
    * duplicated-gram definition (delta-only verdicts, the family's
    * contract: base docs' spans are yesterday's output).
    *
    * Scale shape: one delta-sized gram explode + one delta-vocabulary
    * aggregate + ONE equi-join against the index (shuffle-hash on the
    * gram key; the index is the corpus-sized side) + a broadcast of
    * the delta's duplicated grams onto its instances + the bounded
    * per-doc island frames. The index never self-joins.
    */
  def dedupSpansIncremental(spark: SparkSession, dir: String,
                            deltaMod: Int = 10): DataFrame = {
    val idx = Source.read(spark, s"${ensureGramVocabIndex(spark, dir, deltaMod)}/vocab")
    val inst = gramInstances(Source.table(spark, dir, "documents")
      .where(col("doc_id") % deltaMod === 0))
    val deltaVocab = inst.groupBy(col("gram")).agg(count(lit(1)).as("dcnt"))
    // left-outer keeps base-absent delta grams; the index side cannot
    // broadcast (it is the corpus-sized side and sits right of a left
    // join), so pin shuffle-hash — gram rows are fat strings and a
    // sort-merge would sort the whole vocabulary
    val dupGrams = broadcast(deltaVocab
      .join(idx.withColumnRenamed("cnt", "base_cnt").hint("shuffle_hash"),
        Seq("gram"), "left")
      .where(col("dcnt") + coalesce(col("base_cnt"), lit(0L)) > 1)
      .select(col("gram")))
    spansFromDupInstances(inst.join(dupGrams, "gram")
      .select(col("doc_id"), col("i"), col("end_w")))
  }

  /** The incremental span plan against a CALLER-SUPPLIED
    * corpus-duplicated-gram set — the composition point
    * [[graft.streaming.StreamingVocab.streamedDeltaSpans]] uses to
    * swap the persisted batch index for the stream-maintained state:
    * delta gram instances equi-join the dup set (shuffle-hash; the
    * set is vocabulary-sized), then the shared islands merge. Joining
    * the FULL corpus-duplicated set is row-identical to
    * [[dedupSpansIncremental]]'s delta-restricted probe because the
    * instance stream only carries delta grams.
    */
  private[graft] def deltaSpansAgainst(spark: SparkSession, dir: String,
                                       dupGrams: DataFrame,
                                       deltaMod: Int = 10): DataFrame = {
    val inst = gramInstances(Source.table(spark, dir, "documents")
      .where(col("doc_id") % deltaMod === 0))
    spansFromDupInstances(inst
      .join(dupGrams.select(col("gram")).hint("shuffle_hash"), "gram")
      .select(col("doc_id"), col("i"), col("end_w")))
  }

  private def spansFromDupInstances(dup: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val prevMax = max(col("end_w"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("new_span",
        when(prevMax.isNull || col("i") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("new_span"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("i")).as("start_word"), max(col("end_w")).as("end_word"))
      .select(col("doc_id"), col("span_id"), col("start_word"),
        col("end_word"),
        (col("end_word") - col("start_word") + 1).as("span_words"))
  }
}
