package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tsdb.{Db, Duration}

/** Driver contract — see SURVEY.md §2 for the inventory.
  *
  * [[entries]] is the one entry registry: each row holds an entry's name,
  * the query it runs over an sf dir, the DuckDB SQL that checks it, and
  * the tags the harness mains act on. [[queries]] and [[oracleSql]] are
  * views over it, so every query has an oracle by construction.
  */
object SparkEntry {

  /** How a harness main treats an entry beyond running it and checking
    * its oracle.
    */
  sealed trait Tag
  object Tag {

    /** A deliberately uncached validation-contract replay, not a query:
      * ts_flaps_replay re-runs a 4-micro-batch stateful replay per
      * invocation, ann_recall_curve runs a full recall sweep,
      * dedup_cluster_hist re-clusters, and text_decontaminate_bloom
      * rebuilds and probes the filter against the exact chain. Their cost
      * is the contract being re-proven, so Bench reports the suite total
      * both with and without them (mixing them into one number made
      * cross-round per-query totals incomparable).
      */
    case object Validation extends Tag

    /** A sub-1.5 s entry measured swinging 1.5–1.7× across cold-JVM runs
      * with no code change (text_dup_ngrams 0.77–1.71 s over six runs).
      * Bench records the MEDIAN of its three timed runs in the per-query
      * dict instead of the min; the suite totals keep summing the min for
      * every entry, so they stay comparable across rounds.
      */
    case object NoiseBand extends Tag

    /** Checked against a committed parquet under [[GoldenDir]], written
      * by [[GenGolden]] (values DuckDB cannot recompute).
      */
    case object Golden extends Tag
  }

  /** One driver entry: `run(spark, sfDir)` answers it, and `oracle` is
    * DuckDB SQL over the same sf tables that must yield the same rows.
    */
  final case class Entry(name: String, run: (SparkSession, String) => DataFrame,
                         oracle: String, tags: Set[Tag] = Set.empty)

  private val Day  = Duration.days(1)
  private val Week = Duration.weeks(1)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Db.fromEvents(spark, "/root/testdata/sf0.001")
      .avg("purchase", "user").granularity(Day).build()

  /** Entry name → query: a view over [[entries]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** Entry name → DuckDB oracle SQL: a view over [[entries]]. */
  lazy val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracle).toMap

  // ---- DuckDB oracle SQL ----
  // Canonical series view: DuckDB truncates parquet ns timestamps to µs,
  // so the Spark side (Db.fromEvents) truncates its ns longs identically.
  // A props key absent from a row is a NULL tag (nullif), not an empty
  // string — group-bys skip those points, like the reference skipping
  // series that lack the group tag.
  private val Ev =
    """WITH ev AS (
      |  SELECT event_type AS metric, epoch_ns(ts) AS ts, value,
      |         CAST(user_id AS VARCHAR) AS tag_user,
      |         nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS tag_k
      |  FROM events
      |)""".stripMargin

  private def bucket(width: Long) = s"(ts // ${width}) * ${width}"
  private val AvgV = "round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6) AS value"
  private val SumV = "CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value"
  private val CntV = "CAST(COUNT(*) AS DOUBLE) AS value"

  // text-signal SQL bodies, shared by their own oracle entries and the
  // composed text_filter_chain oracle
  private val TextLangidSql =
    """SELECT doc_id,
      | CASE WHEN zh > 0 THEN 'zh'
      |      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
      |      WHEN de >= fr AND de >= es THEN 'de'
      |      WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
      |FROM (
      |  SELECT doc_id,
      |   length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh,
      |   length(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS en,
      |   length(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS de,
      |   length(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS fr,
      |   length(regexp_extract_all(text, '\b(el|los|las|y|es)\b')) AS es
      |  FROM documents)""".stripMargin

  /** Recursive connected components over the n-gram-Jaccard pair set —
    * shared by the dedup_cluster and dedup_pipeline_quality oracles so
    * the two can never diverge on the pair/closure definition.
    */
  private val NgramClusterCtes =
    """WITH RECURSIVE gr AS (
      |  SELECT doc_id, substr(text, 1, 16) AS blk,
      |    list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
      |      i -> substr(text, CAST(i AS INT), 3))) AS grams
      |  FROM documents
      |), p AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      round(CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |        / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))), 6) AS jaccard
      |    FROM gr a JOIN gr b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.3
      |), e AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p
      |), r AS (
      |  SELECT src AS id, src AS comp FROM e
      |  UNION
      |  SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id
      |), c AS (
      |  SELECT id, min(comp) AS comp FROM r GROUP BY id
      |)""".stripMargin

  private val TextQualitySql =
    """SELECT doc_id,
      | n_chars_calc, n_tokens,
      | round(alpha / n_chars_calc, 6) AS alpha_ratio,
      | round(punct / n_chars_calc, 6) AS punct_ratio,
      | round(stops / n_tokens, 6) AS stopword_ratio,
      | round(alpha / n_tokens, 6) AS mean_token_alpha,
      | round(CAST(0.4 AS DOUBLE) * (alpha / n_chars_calc)
      |   + CAST(0.4 AS DOUBLE) * least((stops / n_tokens) * 5, CAST(1.0 AS DOUBLE))
      |   + CAST(0.2 AS DOUBLE) * (CASE WHEN n_tokens BETWEEN 10 AND 1000
      |                                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6)
      |   AS quality_score
      |FROM (
      |  SELECT doc_id,
      |   CAST(length(text) AS BIGINT) AS n_chars_calc,
      |   CAST(length(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
      |   CAST(length(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT) AS alpha,
      |   CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS punct,
      |   CAST(length(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS stops
      |  FROM documents)""".stripMargin

  /** Duplicated-gram coverage-interval islands over `documents` —
    * shared by the text_dedup_spans and text_dedup_rewrite oracles so
    * the span definition can never diverge between the report and the
    * rewrite.
    */
  /** Shared CTE chain of the INCREMENTAL substring-dedup pair (31u
    * spans / 31v rewrite): from-scratch combined gram census (base
    * counts + delta counts, duplicated iff total > 1 — exactly the
    * persisted-index probe's predicate) + the shared islands recipe
    * over delta instances. Same string-surgery reuse contract as
    * [[TextSpanCtes]].
    */
  private val TextIncSpanCtes =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    CAST(least(i + 2, len(wl)) AS BIGINT) AS end_w,
      |    array_to_string(list_slice(wl, i, i + 2), ' ') AS gram
      |  FROM w, unnest(generate_series(1, greatest(len(wl) - 2, 1))) AS t(i)
      |), bv AS (
      |  SELECT gram, COUNT(*) AS cnt FROM g WHERE doc_id % 10 != 0 GROUP BY 1
      |), dg AS (
      |  SELECT doc_id, i, end_w, gram FROM g WHERE doc_id % 10 = 0
      |), dv AS (SELECT gram, COUNT(*) AS dcnt FROM dg GROUP BY 1),
      |dup AS (
      |  SELECT dg.doc_id, dg.i, dg.end_w FROM dg
      |  JOIN dv USING (gram) LEFT JOIN bv USING (gram)
      |  WHERE dv.dcnt + COALESCE(bv.cnt, 0) > 1
      |), m AS (
      |  SELECT doc_id, i, end_w,
      |    max(end_w) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM dup
      |), isl AS (
      |  SELECT doc_id, i, end_w,
      |    CAST(SUM(CASE WHEN prev_max IS NULL OR i > prev_max + 1
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
      |  FROM m
      |)""".stripMargin

  private val TextSpanCtes =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    CAST(least(i + 2, len(wl)) AS BIGINT) AS end_w,
      |    array_to_string(list_slice(wl, i, i + 2), ' ') AS gram
      |  FROM w, unnest(generate_series(1, greatest(len(wl) - 2, 1))) AS t(i)
      |), v AS (
      |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1
      |), dsp AS (
      |  SELECT g.doc_id, g.i, g.end_w FROM g JOIN v USING (gram)
      |), m AS (
      |  SELECT doc_id, i, end_w,
      |    max(end_w) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM dsp
      |), isl AS (
      |  SELECT doc_id, i, end_w,
      |    CAST(SUM(CASE WHEN prev_max IS NULL OR i > prev_max + 1
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
      |  FROM m
      |)""".stripMargin

  /** The blocked n-gram-Jaccard pair query — shared by the
    * dedup_ngram_jaccard oracle and the cross-role filter of
    * text_decontaminate_neardup so the pair definition cannot diverge.
    */
  private val NgramJaccardSql =
    """WITH g AS (
      |  SELECT doc_id, substr(text, 1, 16) AS blk,
      |    list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
      |      i -> substr(text, CAST(i AS INT), 3))) AS grams
      |  FROM documents)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))), 6) AS jaccard
      |  FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.3""".stripMargin

  private val TextRepetitionSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents
      |), b AS (
      |  SELECT doc_id, len(w) AS nw, w,
      |    list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1]) AS bg,
      |    list_transform(generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS tg
      |  FROM t
      |), topb AS (
      |  SELECT doc_id, max(c) AS topc FROM (
      |    SELECT doc_id, g, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(bg) AS g FROM b) GROUP BY 1, 2)
      |  GROUP BY 1
      |)
      |SELECT b.doc_id,
      |  CAST(nw AS BIGINT) AS n_words,
      |  round(len(list_distinct(w)) / CAST(nw AS DOUBLE), 6) AS distinct_word_frac,
      |  CAST(coalesce(topc, 0) AS BIGINT) AS top_bigram_count,
      |  round(CASE WHEN nw >= 2 THEN coalesce(topc, 0) / CAST(nw - 1 AS DOUBLE)
      |        ELSE 0 END, 6) AS top_bigram_frac,
      |  round(CASE WHEN nw >= 3 THEN 1 - len(list_distinct(tg)) / CAST(nw - 2 AS DOUBLE)
      |        ELSE 0 END, 6) AS dup_trigram_frac
      |FROM b LEFT JOIN topb USING (doc_id)""".stripMargin

  private def tsAgg(metric: String, grp: String, valueSql: String,
                    where: String = "TRUE", width: Long = Day): String =
    s"""$Ev
       |SELECT tag_$grp AS grp, ${bucket(width)} AS bucket_start,
       |       COUNT(*) AS n, $valueSql
       |FROM ev
       |WHERE metric = '$metric' AND tag_$grp IS NOT NULL AND ($where)
       |GROUP BY 1, 2""".stripMargin

  /** Absence → consecutive-gap islands over the purchase series —
    * shared by the ts_outage_runs and ts_mttr oracles so the outage
    * definition cannot diverge between the event list and the
    * reliability rollup.
    */
  private val OutageRunsCtes =
    s""", p AS (
       |  SELECT DISTINCT tag_user, tag_k, ${bucket(Day)} AS bucket_start
       |  FROM ev WHERE metric = 'purchase'
       |), se AS (SELECT DISTINCT tag_user, tag_k FROM p),
       |bounds AS (SELECT min(bucket_start) AS b_lo, max(bucket_start) AS b_hi FROM p),
       |bk AS (SELECT unnest(generate_series(b_lo, b_hi, ${Day})) AS bucket_start
       |       FROM bounds),
       |ab AS (
       |  SELECT se.tag_user, se.tag_k, bk.bucket_start
       |  FROM se CROSS JOIN bk
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM p
       |    WHERE p.tag_user IS NOT DISTINCT FROM se.tag_user
       |      AND p.tag_k IS NOT DISTINCT FROM se.tag_k
       |      AND p.bucket_start = bk.bucket_start)
       |), r AS (
       |  SELECT tag_user, tag_k, bucket_start,
       |    bucket_start // ${Day} - row_number() OVER (
       |      PARTITION BY tag_user, tag_k ORDER BY bucket_start) AS rk
       |  FROM ab
       |)""".stripMargin

  private val ZscoreSql =
    s"""$Ev, p AS (
         |  SELECT tag_user AS grp, ts, value FROM ev
         |  WHERE metric = 'error' AND tag_user IS NOT NULL),
         |w AS (
         |  SELECT grp, (ts // ${Day}) * ${Day} AS bucket_start, ts, value,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER win AS DOUBLE) AS s,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS sq,
         |    COUNT(*) OVER win AS n
         |  FROM p WINDOW win AS (PARTITION BY grp, ts // ${Day}))
         |SELECT grp, bucket_start, ts, value,
         |  CASE WHEN sqrt(greatest((sq - s*s/n)/n, 0)) = 0 THEN NULL
         |       ELSE (value - s/n) / sqrt(greatest((sq - s*s/n)/n, 0)) + 0.0 END AS z
         |FROM w""".stripMargin

  // the IVF probe re-derived independently in SQL (first-16 centroids,
  // rank-1 assignment, nprobe=4 probes for vec_id < 5, k=5) — shared by
  // ann_ivf and ann_ivf_streamed, whose layouts are identical by
  // construction (fixed coarse quantizer)
  private val AnnIvfSql =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
      |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
      |ac AS (
      |  SELECT n.vec_id, n.v, n.nrm, cent_id,
      |    round(list_reduce(list_transform(list_zip(n.v, cv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
      |      / (n.nrm * cnrm), 6) AS ccos
      |  FROM n, cent),
      |assigned AS (SELECT vec_id, v, nrm, cent_id AS list_id FROM (
      |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
      |  FROM ac) WHERE crnk = 1),
      |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS list_id FROM (
      |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
      |  FROM (SELECT * FROM ac WHERE vec_id < 5)) WHERE crnk <= 4),
      |c AS (
      |  SELECT q.q_id, a.vec_id,
      |    round(list_reduce(list_transform(list_zip(q.qv, a.v),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
      |      / (q.qnrm * a.nrm), 6) AS cos
      |  FROM assigned a JOIN probes q ON a.list_id = q.list_id AND a.vec_id <> q.q_id)
      |SELECT q_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
      |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
      |WHERE rnk <= 5""".stripMargin

  // ---- Golden-artifact oracles ----
  /** Committed golden parquet, one dir per [[Tag.Golden]] entry, written
    * by [[GenGolden]] at sf0.01 (see there for why these entries need it
    * and when to regenerate; a stale golden FAILS Verify). The path is
    * part of the oracle SQL.
    */
  private[graft] val GoldenDir = s"${Harness.Home}/golden"

  /** DuckDB scan of `name`'s golden parquet. */
  private def golden(name: String): String =
    s"read_parquet('$GoldenDir/$name/*.parquet')"

  /** One row per implemented operator from SURVEY.md §2. */
  val entries: Seq[Entry] = Seq(
    // ---- TSDB core (talna parity) ----
    Entry("ts_avg", (s, d) => Db.fromEvents(s, d).avg("purchase", "user").granularity(Day).build(),
      tsAgg("purchase", "user", AvgV)),
    // the same daily avg answered from the WATERMARKED WINDOW-AGG
    // streaming path (decimal-exact partials, Update-mode changelog,
    // four micro-batches, batch-id-staged): matching ts_avg's
    // raw-events oracle proves the streamed window state merged every
    // batch exactly — the sixth streamed driver entry
    Entry("ts_avg_streamed", (s, d) =>
      graft.streaming.StreamingAgg.streamedAvg(s, d),
      tsAgg("purchase", "user", AvgV)),
    Entry("ts_sum", (s, d) => Db.fromEvents(s, d).sum("click", "user").granularity(Day).build(),
      tsAgg("click", "user", SumV)),
    Entry("ts_min", (s, d) => Db.fromEvents(s, d).min("error", "user").granularity(Day).build(),
      tsAgg("error", "user", "MIN(value) AS value")),
    Entry("ts_max", (s, d) => Db.fromEvents(s, d).max("view", "user").granularity(Day).build(),
      tsAgg("view", "user", "MAX(value) AS value")),
    Entry("ts_count", (s, d) => Db.fromEvents(s, d).count("signup", "user").granularity(Day).build(),
      tsAgg("signup", "user", CntV)),
    Entry("ts_filter_and", (s, d) =>
      Db.fromEvents(s, d).avg("view", "user").filter("k:1* AND user:1*").granularity(Day).build(),
      tsAgg("view", "user", AvgV,
        "tag_k LIKE '1%' AND tag_user LIKE '1%'")),
    Entry("ts_filter_or", (s, d) =>
      Db.fromEvents(s, d).sum("click", "user").filter("k:11 OR k:22 OR k:33").granularity(Day).build(),
      tsAgg("click", "user", SumV,
        "tag_k = '11' OR tag_k = '22' OR tag_k = '33'")),
    Entry("ts_filter_not", (s, d) =>
      Db.fromEvents(s, d).count("error", "user").filter("!k:1*").granularity(Day).build(),
      tsAgg("error", "user", CntV,
        "NOT coalesce(tag_k LIKE '1%', FALSE)")),
    Entry("ts_filter_wildcard", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "k").filter("user:1*").granularity(Day).build(),
      tsAgg("purchase", "k", AvgV, "tag_user LIKE '1%'")),
    Entry("ts_filter_nested", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "user")
        .filter("user:1* AND (k:2* OR k:3*)").granularity(Day).build(),
      tsAgg("purchase", "user", AvgV,
        "tag_user LIKE '1%' AND (tag_k LIKE '2%' OR tag_k LIKE '3%')")),
    Entry("ts_filter_allstar", (s, d) =>
      Db.fromEvents(s, d).count("view", "user").filter("*").granularity(Day).build(),
      tsAgg("view", "user", CntV)),
    Entry("ts_range", (s, d) =>
      Db.fromEvents(s, d).sum("purchase", "user")
        .start(1704844800000000000L) // 2024-01-10
        .end(1705708800000000000L)   // 2024-01-20 (inclusive, like the reference)
        .granularity(Day).build(),
      tsAgg("purchase", "user", SumV,
        "ts >= 1704844800000000000 AND ts <= 1705708800000000000")),
    Entry("ts_latest", (s, d) => Db.fromEvents(s, d).latest("purchase", 5),
      s"""$Ev
         |SELECT metric, ts, value, tag_user, tag_k FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY tag_user, tag_k ORDER BY ts DESC, value DESC) AS rn
         |  FROM ev WHERE metric = 'purchase'
         |) WHERE rn <= 5""".stripMargin),
    Entry("ts_raw", (s, d) => Db.fromEvents(s, d).scan("error", "user:1*"),
      s"""$Ev
         |SELECT metric, ts, value, tag_user, tag_k
         |FROM ev WHERE metric = 'error' AND tag_user LIKE '1%'""".stripMargin),
    Entry("ts_multi_tag_group", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "k").granularity(Week).build(),
      tsAgg("purchase", "k", AvgV, width = Week)),
    Entry("ts_bounds_avg", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "user").granularity(Day).buildWithBounds(),
      s"""$Ev
         |SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |       ${bucket(Day)} + ${Day} AS bucket_end,
         |       ${bucket(Day)} + ${Day / 2} AS bucket_middle,
         |       COUNT(*) AS n, $AvgV
         |FROM ev
         |WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    Entry("ts_meta_metrics", (s, d) => Db.fromEvents(s, d).metrics,
      "SELECT DISTINCT event_type AS metric FROM events"),
    Entry("ts_meta_series", (s, d) => Db.fromEvents(s, d).series("purchase"),
      s"""$Ev
         |SELECT DISTINCT metric, tag_user, tag_k FROM ev
         |WHERE metric = 'purchase'""".stripMargin),
    // TagIndex value enumeration: distinct values of one tag key
    Entry("ts_meta_tagvalues", (s, d) => Db.fromEvents(s, d).tagValues("click", "k"),
      s"""$Ev
         |SELECT DISTINCT tag_k AS value FROM ev
         |WHERE metric = 'click' AND tag_k IS NOT NULL""".stripMargin),
    // per-tag-key cardinality: the "which label explodes my series
    // count" dashboard — one aggregate, vocabulary-sized output
    Entry("ts_meta_cardinality", (s, d) => Db.fromEvents(s, d).tagCardinality("click"),
      // per-tag-key cardinality census (keys in sorted column order; the
      // driver compare is order-insensitive anyway)
      s"""$Ev
         |SELECT 'k' AS tag_key, COUNT(DISTINCT tag_k) AS n_values,
         |       COUNT(tag_k) AS n_points
         |FROM ev WHERE metric = 'click'
         |UNION ALL
         |SELECT 'user', COUNT(DISTINCT tag_user), COUNT(tag_user)
         |FROM ev WHERE metric = 'click'""".stripMargin),
    Entry("ts_rate", (s, d) => Db.fromEvents(s, d).rate("click"),
      // same (ts, value) ordering and strict Δt>0 row filter as Db.rate;
      // the rate is the RAW IEEE division (identical op chain on both
      // engines is bit-stable; decimal round() is not) with `+ 0.0`
      // canonicalizing any -0.0 quotient on both sides
      s"""$Ev
         |SELECT metric, ts, value, tag_user, tag_k, rate_per_s FROM (
         |  SELECT metric, ts, value, tag_user, tag_k,
         |    lag(ts) OVER w AS prev_ts,
         |    (value - lag(value) OVER w)
         |      / ((ts - lag(ts) OVER w) / 1e9) + 0.0 AS rate_per_s
         |  FROM ev WHERE metric = 'click'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |) WHERE prev_ts IS NOT NULL AND prev_ts < ts""".stripMargin),
    // PromQL sum(rate(m[1d])): cross-series total rate per bucket —
    // rounded-decimal cross-series sum (a raw double fold would be
    // engine/partitioning-order-sensitive)
    Entry("ts_rate_sum", (s, d) => Db.fromEvents(s, d).rateSum("click", Day),
      // sum(rate): the identical per-series quotient chain, each value
      // rounded to 6 then summed as DECIMAL — associative on both engines
      s"""$Ev
         |, r AS (
         |  SELECT ts, lag(ts) OVER w AS prev_ts,
         |    round((value - lag(value) OVER w)
         |      / ((ts - lag(ts) OVER w) / 1e9) + 0.0, 6) AS rr
         |  FROM ev WHERE metric = 'click'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |)
         |SELECT ${bucket(Day)} AS bucket_start, COUNT(*) AS n_pairs,
         |  CAST(SUM(CAST(rr AS DECIMAL(28,6))) AS DOUBLE) AS value
         |FROM r WHERE prev_ts IS NOT NULL AND prev_ts < ts
         |GROUP BY 1""".stripMargin),
    // PromQL quantile(0.9, sum by(user)(m)): p90 ACROSS series per day
    Entry("ts_quantile_across", (s, d) =>
      Db.fromEvents(s, d).quantileAcross("click", "user", 0.9, Day),
      // quantile-across: level one is the exact decimal per-series sum
      // (engine-identical doubles), level two quantile_cont + round —
      // the ts_quantile recipe applied horizontally
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT bucket_start, COUNT(*) AS n_series,
         |       round(quantile_cont(value, 0.9), 6) AS value
         |FROM a GROUP BY 1""".stripMargin),
    Entry("ts_increase", (s, d) => Db.fromEvents(s, d).increase("click", Day),
      // counter increase: positive deltas only (reset-aware), attributed
      // to the later point's bucket, DECIMAL-exact summation like every
      // other ts_* sum
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ts,
         |    lag(ts) OVER w AS prev_ts,
         |    greatest(value - lag(value) OVER w, 0) AS delta
         |  FROM ev WHERE metric = 'click'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |)
         |SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |  CAST(SUM(CAST(delta AS DECIMAL(28,6))) AS DOUBLE) AS value
         |FROM d WHERE prev_ts IS NOT NULL AND prev_ts < ts
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    Entry("ts_irate", (s, d) => Db.fromEvents(s, d).irate("click", Week),
      // instantaneous rate (PromQL irate()): the LAST consecutive pair of
      // each (series, bucket), reset-aware (a drop contributes the raw
      // new value); same strict Δt>0 filter and raw-IEEE `+ 0.0` chain
      // as ts_rate
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    ${bucket(Week)} AS bucket_start,
         |    lag(ts) OVER w AS prev_ts,
         |    lag(value) OVER w AS prev_value,
         |    row_number() OVER (PARTITION BY tag_user, tag_k, ${bucket(Week)}
         |      ORDER BY ts DESC, value DESC) AS rn
         |  FROM ev WHERE metric = 'click'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k, ${bucket(Week)}
         |    ORDER BY ts, value)
         |)
         |SELECT metric, tag_user, tag_k, bucket_start,
         |  (CASE WHEN value >= prev_value THEN value - prev_value
         |        ELSE value END)
         |    / ((ts - prev_ts) / 1e9) + 0.0 AS value
         |FROM d WHERE rn = 1 AND prev_ts IS NOT NULL AND prev_ts < ts""".stripMargin),
    Entry("ts_ewma", (s, d) => Db.fromEvents(s, d).ewma("view"),
      // per-point EWMA: list_reduce over the window prefix array is the
      // same left fold (seeded with the first element) as the graft_ewma
      // kernel, with the identical IEEE op chain — DOUBLE casts defeat
      // DuckDB's decimal literal arithmetic
      s"""$Ev
         |, s AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    array_agg(value) OVER (PARTITION BY tag_user, tag_k
         |      ORDER BY ts, value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
         |  FROM ev WHERE metric = 'view'
         |)
         |SELECT metric, tag_user, tag_k, ts, value,
         |  list_reduce(pref, (a, b) ->
         |    (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * a
         |      + CAST(0.3 AS DOUBLE) * b) AS ewma
         |FROM s""".stripMargin),
    Entry("ts_holt", (s, d) => Db.fromEvents(s, d).holt("view"),
      // Holt double exponential smoothing, zero-trend init: the fold
      // runs with a type-stable {s: level, b: trend} STRUCT accumulator
      // (list_reduce seeds from the first element, so elements are
      // pre-mapped to {v, 0}); 1-α and 1-β are COMPUTED (the literal
      // 0.7 is a different double than 1.0-0.3); the trend term
      // recomputes the new level — the identical IEEE chain yields
      // identical bits
      s"""$Ev
         |, s AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    array_agg(value) OVER (PARTITION BY tag_user, tag_k
         |      ORDER BY ts, value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
         |  FROM ev WHERE metric = 'view'
         |)
         |SELECT metric, tag_user, tag_k, ts, value,
         |  list_reduce(
         |    list_transform(pref, v -> struct_pack(
         |      s := CAST(v AS DOUBLE), b := CAST(0.0 AS DOUBLE))),
         |    (acc, x) -> struct_pack(
         |      s := CAST(0.3 AS DOUBLE) * x.s
         |        + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * (acc.s + acc.b),
         |      b := CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * x.s
         |        + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * (acc.s + acc.b)) - acc.s)
         |        + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) * acc.b)).s AS holt
         |FROM s""".stripMargin),
    Entry("ts_absent", (s, d) => Db.fromEvents(s, d).absent("purchase", Day),
      // absent buckets: (observed series × global bucket span) minus the
      // present pairs, NULL-safe tag identity (IS NOT DISTINCT FROM);
      // all-integer outputs
      s"""$Ev
         |, p AS (
         |  SELECT DISTINCT tag_user, tag_k, ${bucket(Day)} AS bucket_start
         |  FROM ev WHERE metric = 'purchase'
         |), se AS (SELECT DISTINCT tag_user, tag_k FROM p),
         |bounds AS (SELECT min(bucket_start) AS b_lo, max(bucket_start) AS b_hi FROM p),
         |bk AS (SELECT unnest(generate_series(b_lo, b_hi, ${Day})) AS bucket_start
         |       FROM bounds)
         |SELECT se.tag_user, se.tag_k, bk.bucket_start
         |FROM se CROSS JOIN bk
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM p
         |  WHERE p.tag_user IS NOT DISTINCT FROM se.tag_user
         |    AND p.tag_k IS NOT DISTINCT FROM se.tag_k
         |    AND p.bucket_start = bk.bucket_start)""".stripMargin),
    Entry("ts_mad", (s, d) => Db.fromEvents(s, d).mad("view", "user", Day),
      // robust anomaly baseline: median rounded to 6 BEFORE the
      // deviation pass (engine-identical doubles feed the second
      // percentile), both interpolations the ts_quantile round-6 recipe
      s"""$Ev
         |, p AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start, value
         |  FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |), m AS (
         |  SELECT grp, bucket_start,
         |         round(quantile_cont(value, 0.5), 6) AS med
         |  FROM p GROUP BY 1, 2
         |)
         |SELECT p.grp, p.bucket_start, m.med, COUNT(*) AS n,
         |  round(quantile_cont(abs(p.value - m.med), 0.5), 6) AS mad
         |FROM p JOIN m USING (grp, bucket_start)
         |GROUP BY 1, 2, 3""".stripMargin, Set(Tag.NoiseBand)),
    Entry("ts_asof", (s, d) => Db.fromEvents(s, d).asofAlign("click", "purchase"),
      // right side pre-merged to one row per (tag, ts) — ASOF tie choice
      // at identical timestamps is engine-defined otherwise
      s"""$Ev
         |, l AS (SELECT tag_user AS grp, ts, value FROM ev
         |        WHERE metric = 'click' AND tag_user IS NOT NULL),
         |r AS (SELECT tag_user AS grp, ts, max(value) AS rv FROM ev
         |      WHERE metric = 'purchase' GROUP BY 1, 2)
         |SELECT l.grp, l.ts, l.value, r.rv AS asof_value, r.ts AS asof_ts
         |FROM l ASOF LEFT JOIN r ON l.grp = r.grp AND l.ts >= r.ts""".stripMargin),
    Entry("ts_quantile", (s, d) =>
      Db.fromEvents(s, d).quantile("view", "user", 0.95).granularity(Day).build(),
      tsAgg("view", "user",
        "round(quantile_cont(value, 0.95), 6) AS value")),
    // the GK sketch emits a genuine data point (cross-engine bit-parity
    // impossible by design), so the driver entry is the BOOLEAN band
    // frame: per (group, bucket), sketch-value ∈ exact discrete rank
    // band [v_⌊0.94n⌋, v_⌈0.96n⌉] — both engines agree on booleans, so
    // the 1% rank-error contract itself rides the hash gate
    Entry("ts_quantile_approx", (s, d) =>
      Db.fromEvents(s, d).quantileApprox("view", "user", 0.95)
        .granularity(Day).buildBandCheck(),
      // the rank-error contract as booleans: the Spark side computes
      // sketch-within-exact-band per (group, bucket); the oracle asserts
      // the contract HOLDS by expecting TRUE on the identical groups —
      // any sketch rank-error regression flips rows and fails the hash
      tsAgg("view", "user", "TRUE AS within_band")),
    // the STREAMED sketch under the same band gate: GK merge order
    // differs across micro-batches (values need not match the batch
    // sketch), but the rank-error contract must hold — the boolean
    // frame pins the cross-batch sketch-state merge
    Entry("ts_quantile_approx_streamed", (s, d) =>
      graft.streaming.StreamingAgg.streamedQuantileBand(s, d, "view"),
      tsAgg("view", "user", "TRUE AS within_band")),
    Entry("ts_stddev", (s, d) =>
      Db.fromEvents(s, d).stddev("error", "k").granularity(Day).build(),
      // same op chain as AggKind.Stddev: exact decimal Σv and Σv², then
      // double square/divide/sqrt — bit-stable on both engines
      tsAgg("error", "k",
        "round(sqrt(greatest((CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) " +
          "- CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)) " +
          "/ COUNT(*), 0)), 6) AS value")),
    Entry("ts_zscore", (s, d) => Db.fromEvents(s, d).zscore("error", "user"),
      // per-point z within (group × bucket): exact decimal window sums,
      // then the identical IEEE chain (no rounding — the rate/ewma
      // recipe) with `+ 0.0` signed-zero canonicalization; σ=0 → NULL
      ZscoreSql),
    // weekday-profile residual z: daily totals scored against the SAME
    // weekday's distribution — the de-seasonalized alerting band
    Entry("ts_seasonal_zscore", (s, d) =>
      Db.fromEvents(s, d).seasonalZscore("click", "user"),
      // weekday-profile residual z over daily totals: exact DECIMAL
      // daily sums, then the ZscoreSql Σt/Σt² window chain partitioned
      // (series, weekday); identical IEEE steps after the exact sums
      s"""$Ev, daily AS (
         |  SELECT tag_user AS grp, ts // ${Day} AS day_idx,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(18,6)) AS t
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), w AS (
         |  SELECT grp, day_idx * ${Day} AS bucket_start,
         |    (day_idx + 4) % 7 AS dow, t,
         |    CAST(SUM(t) OVER win AS DOUBLE) AS s,
         |    CAST(SUM(t * t) OVER win AS DOUBLE) AS sq,
         |    COUNT(*) OVER win AS n
         |  FROM daily WINDOW win AS (PARTITION BY grp, (day_idx + 4) % 7)
         |)
         |SELECT grp, bucket_start, dow, CAST(t AS DOUBLE) AS value,
         |  CASE WHEN sqrt(greatest((sq - s*s/n)/n, 0)) = 0 THEN NULL
         |       ELSE (CAST(t AS DOUBLE) - s/n)
         |            / sqrt(greatest((sq - s*s/n)/n, 0)) + 0.0 END AS z
         |FROM w""".stripMargin),
    // one-step-ahead EWMA forecast error per series: round-6 |err|
    // summed as decimal, one division — the alpha-quality read
    Entry("ts_ewma_backtest", (s, d) =>
      Db.fromEvents(s, d).ewmaBacktest("view"),
      // the backtest on the SAME bit-stable prefix fold: lag the ewma one
      // point, round-6 errors summed as DECIMAL, one division per series
      s"""$Ev
         |, s AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    array_agg(value) OVER (PARTITION BY tag_user, tag_k
         |      ORDER BY ts, value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
         |  FROM ev WHERE metric = 'view'
         |), e AS (
         |  SELECT tag_user, tag_k, ts, value,
         |    list_reduce(pref, (a, b) ->
         |      (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * a
         |        + CAST(0.3 AS DOUBLE) * b) AS ewma
         |  FROM s
         |), l AS (
         |  SELECT tag_user, tag_k, value,
         |    lag(ewma) OVER (PARTITION BY tag_user, tag_k
         |      ORDER BY ts, value) AS pred
         |  FROM e
         |)
         |SELECT tag_user, tag_k, COUNT(*) AS n_preds,
         |  CAST(SUM(CAST(round(abs(value - pred), 6) AS DECIMAL(28,6)))
         |    AS DOUBLE) / COUNT(*) AS mae
         |FROM l WHERE pred IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    // per-series share of the bucket total: exact decimal numerator
    // and denominator, one division — percent-of-total normalization
    Entry("ts_share", (s, d) => Db.fromEvents(s, d).share("view", "user"),
      // percent-of-total: decimal bucket totals, decimal cross-series
      // denominator, one IEEE division; zero totals → NULL
      s"""$Ev, daily AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |    SUM(CAST(value AS DECIMAL(28,6))) AS t
         |  FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start, CAST(t AS DOUBLE) AS value,
         |  CASE WHEN CAST(SUM(t) OVER (PARTITION BY bucket_start) AS DOUBLE) = 0
         |       THEN NULL
         |       ELSE CAST(t AS DOUBLE)
         |            / CAST(SUM(t) OVER (PARTITION BY bucket_start) AS DOUBLE)
         |            + 0.0 END AS share
         |FROM daily""".stripMargin),
    // which series is the outlier THIS bucket: fleet-dimension z over
    // cross-series bucket totals
    Entry("ts_fleet_zscore", (s, d) =>
      Db.fromEvents(s, d).fleetZscore("error", "user"),
      // fleet z: same decimal Σt/Σt² chain, window partitioned by BUCKET
      // (cross-series stats), identical IEEE steps after exact sums
      s"""$Ev, daily AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(18,6)) AS t
         |  FROM ev WHERE metric = 'error' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), w AS (
         |  SELECT grp, bucket_start, t,
         |    CAST(SUM(t) OVER win AS DOUBLE) AS s,
         |    CAST(SUM(t * t) OVER win AS DOUBLE) AS sq,
         |    COUNT(*) OVER win AS n
         |  FROM daily WINDOW win AS (PARTITION BY bucket_start)
         |)
         |SELECT grp, bucket_start, CAST(t AS DOUBLE) AS value,
         |  CASE WHEN sqrt(greatest((sq - s*s/n)/n, 0)) = 0 THEN NULL
         |       ELSE (CAST(t AS DOUBLE) - s/n)
         |            / sqrt(greatest((sq - s*s/n)/n, 0)) + 0.0 END AS z
         |FROM w""".stripMargin),
    // Alertmanager `for:` lifecycle: pending on breach, firing after 3
    // consecutive breaching buckets; a gap or clean bucket resets
    Entry("ts_alerts", (s, d) =>
      Db.fromEvents(s, d).alerts("error", "user", 60.0),
      // alert lifecycle: identical islands identity (day_idx − rn) and
      // run position; CAST-to-double breach compare on both engines
      s"""$Ev, daily AS (
         |  SELECT tag_user AS grp, ts // ${Day} AS day_idx,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
         |  FROM ev WHERE metric = 'error' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), br AS (
         |  SELECT grp, day_idx, value,
         |    day_idx - row_number() OVER (PARTITION BY grp ORDER BY day_idx)
         |      AS rk
         |  FROM daily WHERE value > 60.0
         |)
         |SELECT grp, day_idx * ${Day} AS bucket_start, value,
         |  row_number() OVER (PARTITION BY grp, rk ORDER BY day_idx)
         |    AS run_len,
         |  CASE WHEN row_number() OVER (PARTITION BY grp, rk ORDER BY day_idx)
         |            >= 3 THEN 'firing' ELSE 'pending' END AS state
         |FROM br""".stripMargin),
    // the LIVE lifecycle: per-series day-rollover state machine over
    // time-ordered micro-batches (a day finalizes when its successor's
    // first point arrives; the open last day never scores) — the
    // twentieth streamed driver entry
    Entry("ts_alerts_streamed", (s, d) =>
      graft.streaming.StreamingAlerts.streamedAlerts(s, d),
      // streamed lifecycle: the SAME islands recipe, minus each series'
      // last active day (it never finalizes live — the day isn't over)
      s"""$Ev, daily AS (
         |  SELECT tag_user AS grp, ts // ${Day} AS day_idx,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
         |  FROM ev WHERE metric = 'error' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), mx AS (
         |  SELECT grp, MAX(day_idx) AS md FROM daily GROUP BY grp
         |), br AS (
         |  SELECT grp, day_idx, value,
         |    day_idx - row_number() OVER (PARTITION BY grp ORDER BY day_idx)
         |      AS rk
         |  FROM daily WHERE value > 60.0
         |)
         |SELECT br.grp, day_idx * ${Day} AS bucket_start, value,
         |  row_number() OVER (PARTITION BY br.grp, rk ORDER BY day_idx)
         |    AS run_len,
         |  CASE WHEN row_number() OVER (PARTITION BY br.grp, rk ORDER BY day_idx)
         |            >= 3 THEN 'firing' ELSE 'pending' END AS state
         |FROM br JOIN mx ON br.grp = mx.grp
         |WHERE br.day_idx < mx.md""".stripMargin),
    // Apdex_60: (2·sat + tol) / 2n over exact counts — the SRE
    // satisfaction index per (series, day)
    Entry("ts_apdex", (s, d) => Db.fromEvents(s, d).apdex("view", "user", 60.0),
      // Apdex_60: exact BIGINT satisfied/tolerating counts, the single
      // (2·sat + tol)/(2n) division
      s"""$Ev
         |SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |  COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN value <= 60.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sat,
         |  CAST(SUM(CASE WHEN value > 60.0 AND value <= 240.0
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_tol,
         |  CAST(2 * SUM(CASE WHEN value <= 60.0 THEN 1 ELSE 0 END)
         |       + SUM(CASE WHEN value > 60.0 AND value <= 240.0
         |             THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(2 * COUNT(*) AS DOUBLE) AS apdex
         |FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    // 99%-SLO budget remaining per 28-day window: the single exact
    // division (n − 100·n_bad)/n, negative when blown
    Entry("ts_error_budget", (s, d) =>
      Db.fromEvents(s, d).errorBudget("view", "user", 240.0),
      // SLO budget: integer counts, ONE division — engine-exact
      s"""$Ev
         |SELECT tag_user AS grp,
         |  (ts // ${28 * Day}) * ${28 * Day} AS window_start,
         |  COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN value > 240.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bad,
         |  CAST(COUNT(*) - 100 * SUM(CASE WHEN value > 240.0 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS budget_remaining
         |FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    // the same SLO index from STREAMED conditional-count partials —
    // associative BIGINT counters, argmax-compacted changelog; the
    // nineteenth streamed driver entry, vs the same raw-points oracle
    Entry("ts_apdex_streamed", (s, d) =>
      graft.streaming.StreamingAgg.streamedApdex(s, d),
      s"""$Ev
         |SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |  COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN value <= 60.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sat,
         |  CAST(SUM(CASE WHEN value > 60.0 AND value <= 240.0
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_tol,
         |  CAST(2 * SUM(CASE WHEN value <= 60.0 THEN 1 ELSE 0 END)
         |       + SUM(CASE WHEN value > 60.0 AND value <= 240.0
         |             THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(2 * COUNT(*) AS DOUBLE) AS apdex
         |FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    Entry("ts_gapfill", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "user").granularity(Day).buildGapFilled(),
      // forward fill via ASOF: the latest aggregated bucket at b <= dense
      // bucket IS the carried-forward value; ASOF always matches inside
      // the series span (lo is itself a real bucket)
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS b, COUNT(*) AS n, $AvgV
         |  FROM ev WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), s AS (SELECT grp, min(b) AS lo, max(b) AS hi FROM a GROUP BY 1),
         |d AS (SELECT grp, unnest(generate_series(lo, hi, ${Day})) AS bucket_start FROM s)
         |SELECT d.grp, d.bucket_start,
         |  CAST(CASE WHEN a2.b = d.bucket_start THEN a2.n ELSE 0 END AS BIGINT) AS n,
         |  a2.value AS value,
         |  (a2.b <> d.bucket_start) AS filled
         |FROM d ASOF LEFT JOIN a a2 ON d.grp = a2.grp AND d.bucket_start >= a2.b""".stripMargin),
    // TimescaleDB interpolate(): linear fill between nearest observed
    // neighbors, ffill/bfill at the edges
    Entry("ts_gapfill_lerp", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "user").granularity(Day)
        .buildGapFilledLerp(),
      // linear-interpolation gapfill: the identical dense spine, prev AND
      // next observed neighbors via ignore-nulls windows, the same
      // fixed-order RAW IEEE lerp chain + 0.0 on both engines (a final
      // round() would split one ulp at decimal boundaries — measured)
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS b, COUNT(*) AS n, $AvgV
         |  FROM ev WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), s AS (SELECT grp, min(b) AS lo, max(b) AS hi FROM a GROUP BY 1),
         |d AS (SELECT grp, unnest(generate_series(lo, hi, ${Day})) AS bucket_start FROM s),
         |j AS (
         |  SELECT d.grp, d.bucket_start, a.n, a.value
         |  FROM d LEFT JOIN a ON d.grp = a.grp AND d.bucket_start = a.b
         |), w AS (
         |  SELECT grp, bucket_start, n, value,
         |    last_value(value IGNORE NULLS) OVER behind AS pv,
         |    last_value(CASE WHEN value IS NOT NULL THEN bucket_start END IGNORE NULLS)
         |      OVER behind AS pb,
         |    first_value(value IGNORE NULLS) OVER ahead AS nv,
         |    first_value(CASE WHEN value IS NOT NULL THEN bucket_start END IGNORE NULLS)
         |      OVER ahead AS nb
         |  FROM j
         |  WINDOW behind AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  ahead AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT grp, bucket_start, CAST(coalesce(n, 0) AS BIGINT) AS n,
         |  CASE WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       WHEN nb = pb THEN pv
         |       ELSE pv + (nv - pv)
         |         * (CAST(bucket_start - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) + 0.0
         |  END AS value,
         |  (value IS NULL) AS filled
         |FROM w""".stripMargin),
    Entry("ts_topk_series", (s, d) =>
      Db.fromEvents(s, d).sum("click", "user").granularity(Day).buildTopK(5),
      // top-5 groups per bucket by aggregate value, (value desc, grp)
      // total order — the dashboard top() modifier
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         COUNT(*) AS n, $SumV
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start, n, value, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY bucket_start ORDER BY value DESC, grp) AS rnk
         |  FROM a)
         |WHERE rnk <= 5""".stripMargin),
    // PromQL bottomk(): the n smallest series per bucket
    Entry("ts_bottomk_series", (s, d) =>
      Db.fromEvents(s, d).sum("click", "user").granularity(Day).buildBottomK(5),
      // bottomk: the mirror rank, (value asc, grp) total order
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         COUNT(*) AS n, $SumV
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start, n, value, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY bucket_start ORDER BY value ASC, grp) AS rnk
         |  FROM a)
         |WHERE rnk <= 5""".stripMargin),
    // PromQL subquery max_over_time(rate(m)[1d:]): per-series daily
    // worst-case rate over the exact ts_rate chain
    Entry("ts_max_over_rate", (s, d) => Db.fromEvents(s, d).maxOverRate("click", Day),
      // subquery max_over_time(rate()): MAX/COUNT over the identical
      // bit-stable rate chain — no new arithmetic to diverge
      s"""$Ev
         |, r AS (
         |  SELECT tag_user, tag_k, ts, rate_per_s FROM (
         |    SELECT tag_user, tag_k, ts,
         |      lag(ts) OVER w AS prev_ts,
         |      (value - lag(value) OVER w)
         |        / ((ts - lag(ts) OVER w) / 1e9) + 0.0 AS rate_per_s
         |    FROM ev WHERE metric = 'click'
         |    WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |  ) WHERE prev_ts IS NOT NULL AND prev_ts < ts)
         |SELECT tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |  MAX(rate_per_s) AS max_rate, COUNT(*) AS n
         |FROM r GROUP BY 1, 2, 3""".stripMargin),
    Entry("ts_histogram", (s, d) => Db.fromEvents(s, d).histogram("click", 10.0),
      // fixed-width value bins: the identical floor(value/w)*w IEEE op
      // chain on both engines makes bin boundaries hash-comparable
      s"""$Ev
         |SELECT metric, floor(value / 10.0) * 10.0 AS bin_lo, COUNT(*) AS n
         |FROM ev WHERE metric = 'click'
         |GROUP BY 1, 2""".stripMargin),
    // histogram × time: the Grafana heatmap grid, one hash aggregate
    Entry("ts_heatmap", (s, d) => Db.fromEvents(s, d).heatmap("click", Day, 10.0),
      // heatmap grid = histogram × time: same floor-division bin math,
      // same ts-div bucket math, grouped on both
      s"""$Ev
         |SELECT metric, ${bucket(Day)} AS bucket_start,
         |       floor(value / 10.0) * 10.0 AS bin_lo, COUNT(*) AS n
         |FROM ev WHERE metric = 'click'
         |GROUP BY 1, 2, 3""".stripMargin),
    // Tukey-fence outlier buckets over the daily per-user error sums
    Entry("ts_outliers_iqr", (s, d) =>
      Db.fromEvents(s, d).sum("error", "user").granularity(Day).buildOutliersIqr(),
      // Tukey fences over the daily aggregate frame: quantile_cont +
      // round-6 (the ts_quantile parity recipe), then a fixed 2-op IEEE
      // fence chain — identical multiply/subtract order on both engines
      s"""$Ev, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
         |  FROM ev WHERE metric = 'error' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), f AS (
         |  SELECT grp, round(quantile_cont(value, 0.25), 6) AS q1,
         |         round(quantile_cont(value, 0.75), 6) AS q3
         |  FROM a GROUP BY grp
         |)
         |SELECT a.grp, a.bucket_start, a.value, f.q1, f.q3,
         |       f.q1 - CAST(1.5 AS DOUBLE) * (f.q3 - f.q1) AS lo,
         |       f.q3 + CAST(1.5 AS DOUBLE) * (f.q3 - f.q1) AS hi
         |FROM a JOIN f ON a.grp = f.grp
         |WHERE a.value < f.q1 - CAST(1.5 AS DOUBLE) * (f.q3 - f.q1)
         |   OR a.value > f.q3 + CAST(1.5 AS DOUBLE) * (f.q3 - f.q1)""".stripMargin),
    // reliability rollup over the outage islands: MTTR / MTBF / max
    // per series, exact integers, two final divisions
    Entry("ts_mttr", (s, d) => Db.fromEvents(s, d).mttr("purchase", Day),
      // reliability rollup of the SAME islands (shared CTE body): one
      // vocabulary-sized aggregate, two final IEEE divisions
      s"""$Ev
         |$OutageRunsCtes, runs AS (
         |  SELECT tag_user, tag_k, MIN(bucket_start) AS run_start,
         |         COUNT(*) AS run_len
         |  FROM r GROUP BY tag_user, tag_k, rk
         |)
         |SELECT tag_user, tag_k, COUNT(*) AS n_outages,
         |  CAST(SUM(run_len) AS BIGINT) AS down_buckets,
         |  CAST(MAX(run_len) AS BIGINT) AS max_down,
         |  CAST(SUM(run_len) AS DOUBLE) / COUNT(*) AS mttr_buckets,
         |  CASE WHEN COUNT(*) >= 2
         |       THEN CAST((MAX(run_start) - MIN(run_start)) // ${Day} AS DOUBLE)
         |            / (COUNT(*) - 1)
         |       ELSE NULL END AS mtbf_buckets
         |FROM runs GROUP BY tag_user, tag_k""".stripMargin),
    // consecutive-absence islands: one window pass + one aggregate
    // over the absent pairs, int64 end to end
    Entry("ts_outage_runs", (s, d) =>
      Db.fromEvents(s, d).outageRuns("purchase", Day),
      // outage runs: the identical absent-pair derivation, then the
      // islands trick — bucket_index − row_number is constant across a
      // consecutive run; int64 end to end
      s"""$Ev
         |$OutageRunsCtes
         |SELECT tag_user, tag_k, MIN(bucket_start) AS run_start,
         |       COUNT(*) AS run_len
         |FROM r GROUP BY tag_user, tag_k, rk""".stripMargin),
    // series lifecycle: births/deaths per bucket over the series-grain
    // lifetime frame — the cardinality-churn observability read
    Entry("ts_series_churn", (s, d) =>
      Db.fromEvents(s, d).seriesChurn("view", Day),
      // series churn: series-grain first/last bucket, two bucket-grain
      // censuses full-joined on the day axis; integer end to end
      s"""$Ev, l AS (
         |  SELECT tag_user, tag_k,
         |         MIN(${bucket(Day)}) AS born, MAX(${bucket(Day)}) AS died
         |  FROM ev WHERE metric = 'view' GROUP BY 1, 2
         |), b AS (SELECT born AS bucket_start, COUNT(*) AS n_born FROM l GROUP BY 1),
         |d AS (SELECT died AS bucket_start, COUNT(*) AS n_died FROM l GROUP BY 1)
         |SELECT coalesce(b.bucket_start, d.bucket_start) AS bucket_start,
         |  coalesce(n_born, CAST(0 AS BIGINT)) AS n_born,
         |  coalesce(n_died, CAST(0 AS BIGINT)) AS n_died
         |FROM b FULL JOIN d ON b.bucket_start = d.bucket_start""".stripMargin),
    // Page's CUSUM drift detector: two stacked running windows via the
    // drawdown identity, pure int64 half-micro arithmetic; h=2.5 is
    // the short-window setting (the ~10-bucket daily series here never
    // accumulate to the textbook h=4)
    Entry("ts_cusum", (s, d) =>
      Db.fromEvents(s, d).sum("error", "user").granularity(Day)
        .buildCusum(h = 2.5),
      // CUSUM drawdown identity in pure int64 half-micros: the stddev
      // round-6 chain feeds exact integer thresholds, and the running
      // sum/min windows are integer — associative, so DuckDB's
      // segment-tree windows bit-match Spark's running fold
      s"""$Ev, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
         |  FROM ev WHERE metric = 'error' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), st AS (
         |  SELECT grp,
         |    round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mu,
         |    round(sqrt(greatest((CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |      - CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
         |      / COUNT(*), 0)), 6) AS sigma
         |  FROM a GROUP BY grp
         |), t AS (
         |  SELECT grp,
         |    CAST(CAST(mu AS DECIMAL(28,6)) * 2000000 AS BIGINT)
         |      + 1 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS th_hi2,
         |    CAST(CAST(mu AS DECIMAL(28,6)) * 2000000 AS BIGINT)
         |      - 1 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS th_lo2,
         |    5 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS alarm_h2
         |  FROM st
         |), j AS (
         |  SELECT a.grp, a.bucket_start, a.value,
         |    CAST(CAST(a.value AS DECIMAL(28,6)) * 2000000 AS BIGINT) AS v2,
         |    t.th_hi2, t.th_lo2, t.alarm_h2
         |  FROM a JOIN t ON a.grp = t.grp
         |), p AS (
         |  SELECT *, SUM(v2 - th_hi2) OVER wr AS p_hi,
         |            SUM(th_lo2 - v2) OVER wr AS p_lo
         |  FROM j
         |  WINDOW wr AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT *, p_hi - LEAST(0, MIN(p_hi) OVER wr) AS s_hi2,
         |            p_lo - LEAST(0, MIN(p_lo) OVER wr) AS s_lo2
         |  FROM p
         |  WINDOW wr AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT grp, bucket_start, value,
         |  CAST(s_hi2 AS DOUBLE) / 2000000.0 AS s_hi,
         |  CAST(s_lo2 AS DOUBLE) / 2000000.0 AS s_lo,
         |  (s_hi2 > alarm_h2 OR s_lo2 > alarm_h2) AS alarm
         |FROM m""".stripMargin),
    // streamed per-point CUSUM: batch-calibrated int64 thresholds
    // stream-static-joined, two-long integer state per series — the
    // eighteenth streamed driver entry, bit-equal to the batch
    // drawdown windows by integer construction
    Entry("ts_cusum_streamed", (s, d) =>
      graft.streaming.StreamingCusum.streamedCusum(s, d, "signup"),
      // streamed per-point CUSUM: the batch drawdown windows over raw
      // points re-derive the exact integers the two-long streamed state
      // fold lands — a dropped or re-ordered cross-batch point breaks
      // the running sums and fails the hash
      s"""$Ev, p AS (
         |  SELECT concat_ws('|', tag_user, coalesce(tag_k, '∅')) AS series,
         |         ts, value
         |  FROM ev WHERE metric = 'signup'
         |), st AS (
         |  SELECT series,
         |    round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mu,
         |    round(sqrt(greatest((CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |      - CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
         |      / COUNT(*), 0)), 6) AS sigma
         |  FROM p GROUP BY series
         |), t AS (
         |  SELECT series,
         |    CAST(CAST(mu AS DECIMAL(28,6)) * 2000000 AS BIGINT)
         |      + 1 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS th_hi2,
         |    CAST(CAST(mu AS DECIMAL(28,6)) * 2000000 AS BIGINT)
         |      - 1 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS th_lo2,
         |    5 * CAST(CAST(sigma AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS alarm_h2
         |  FROM st
         |), j AS (
         |  SELECT p.series, p.ts, p.value,
         |    CAST(CAST(p.value AS DECIMAL(28,6)) * 2000000 AS BIGINT) AS v2,
         |    t.th_hi2, t.th_lo2, t.alarm_h2
         |  FROM p JOIN t ON p.series = t.series
         |), w AS (
         |  SELECT *, SUM(v2 - th_hi2) OVER wr AS p_hi,
         |            SUM(th_lo2 - v2) OVER wr AS p_lo
         |  FROM j
         |  WINDOW wr AS (PARTITION BY series ORDER BY ts, value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT *, p_hi - LEAST(0, MIN(p_hi) OVER wr) AS s_hi2,
         |            p_lo - LEAST(0, MIN(p_lo) OVER wr) AS s_lo2
         |  FROM w
         |  WINDOW wr AS (PARTITION BY series ORDER BY ts, value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT series, ts, value,
         |  CAST(s_hi2 AS DOUBLE) / 2000000.0 AS s_hi,
         |  CAST(s_lo2 AS DOUBLE) / 2000000.0 AS s_lo,
         |  (s_hi2 > alarm_h2 OR s_lo2 > alarm_h2) AS alarm
         |FROM m""".stripMargin),
    // SRE dual-window error-budget burn: one scan, one shuffle,
    // integer counts + trailing frames, two IEEE divisions per row
    Entry("ts_burnrate", (s, d) =>
      Db.fromEvents(s, d).burnRate("error", "view", "user", Day),
      // SRE dual-window burn rate: integer counts and trailing sums,
      // burn = (err/tot)/(1-slo) as identical IEEE chains; zero
      // denominators yield NULL and never alarm
      s"""$Ev, c AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |    CAST(SUM(CASE WHEN metric = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
         |    CAST(SUM(CASE WHEN metric = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_tot
         |  FROM ev WHERE metric IN ('error', 'view') AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), t AS (
         |  SELECT *,
         |    CAST(SUM(n_err) OVER wr AS BIGINT) AS err_l,
         |    CAST(SUM(n_tot) OVER wr AS BIGINT) AS tot_l
         |  FROM c
         |  WINDOW wr AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |), b AS (
         |  SELECT grp, bucket_start, n_err, n_tot,
         |    CASE WHEN n_tot = 0 THEN NULL
         |         ELSE (CAST(n_err AS DOUBLE) / CAST(n_tot AS DOUBLE))
         |              / (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) END AS burn_short,
         |    CASE WHEN tot_l = 0 THEN NULL
         |         ELSE (CAST(err_l AS DOUBLE) / CAST(tot_l AS DOUBLE))
         |              / (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) END AS burn_long
         |  FROM t
         |)
         |SELECT grp, bucket_start, n_err, n_tot, burn_short, burn_long,
         |  coalesce(burn_short > 1 AND burn_long > 1, FALSE) AS alarm
         |FROM b""".stripMargin),
    // Bollinger band breakouts: trailing mean ± 2σ from one window
    // pass of side-by-side decimal frame sums
    Entry("ts_bollinger", (s, d) =>
      Db.fromEvents(s, d).sum("click", "user").granularity(Day)
        .buildBollinger(),
      // Bollinger: trailing decimal frame sums (exact + associative, so
      // segment-tree windows bit-match running folds), the stddev
      // round-6 chain per frame, 2-op IEEE band edges
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         COUNT(*) AS n, $SumV
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), t AS (
         |  SELECT grp, bucket_start, n, value,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sq,
         |    COUNT(*) OVER w AS wn
         |  FROM a
         |  WINDOW w AS (PARTITION BY grp ORDER BY bucket_start
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |), b AS (
         |  SELECT grp, bucket_start, n, value,
         |    round(s / wn, 6) AS mean_t,
         |    round(sqrt(greatest((sq - s * s / wn) / wn, 0)), 6) AS sigma_t
         |  FROM t
         |)
         |SELECT grp, bucket_start, n, value, mean_t, sigma_t,
         |  mean_t - CAST(2.0 AS DOUBLE) * sigma_t AS lo,
         |  mean_t + CAST(2.0 AS DOUBLE) * sigma_t AS hi,
         |  (value < mean_t - CAST(2.0 AS DOUBLE) * sigma_t
         |   OR value > mean_t + CAST(2.0 AS DOUBLE) * sigma_t) AS breakout
         |FROM b""".stripMargin),
    // PromQL count_values: per-bucket census of exact values
    Entry("ts_count_values", (s, d) => Db.fromEvents(s, d).countValues("signup", Day),
      // exact-value census: no arithmetic on the double, so grouping is
      // bit-stable on both engines by construction
      s"""$Ev
         |SELECT ${bucket(Day)} AS bucket_start, value, COUNT(*) AS n
         |FROM ev WHERE metric = 'signup'
         |GROUP BY 1, 2""".stripMargin),
    Entry("ts_hist_quantile", (s, d) =>
      Db.fromEvents(s, d).histogramQuantile("view", Day, 10.0, 0.95),
      // PromQL histogram_quantile: per time bucket, linear interpolation
      // inside the first bin whose cumulative count reaches q·total;
      // counts stay integers until ONE final IEEE chain on both engines
      s"""$Ev
         |, h AS (
         |  SELECT ${bucket(Day)} AS bucket_start,
         |    floor(value / 10.0) * 10.0 AS bin_lo, COUNT(*) AS n
         |  FROM ev WHERE metric = 'view' GROUP BY 1, 2
         |), c AS (
         |  SELECT *, CAST(SUM(n) OVER (PARTITION BY bucket_start ORDER BY bin_lo
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(SUM(n) OVER (PARTITION BY bucket_start) AS BIGINT) AS total
         |  FROM h
         |)
         |SELECT bucket_start, total,
         |  -- e-notation literals are DOUBLE in DuckDB; plain 0.95/10.0
         |  -- would run DECIMAL arithmetic and drift off Spark's chain
         |  bin_lo + 10e0 * (0.95e0 * total - (cum - n)) / n + 0e0 AS est_q
         |FROM c WHERE cum - n < 0.95e0 * total AND cum >= 0.95e0 * total""".stripMargin),
    Entry("ts_topk_movers", (s, d) => Db.fromEvents(s, d).topMovers("click", "user", Day),
      // biggest bucket-over-bucket movers: exact decimal bucket sums,
      // per-group lag, (|Δ| desc, grp, bucket) total-order global top-10
      s"""$Ev
         |, b AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start, $SumV
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), dl AS (
         |  SELECT grp, bucket_start, value,
         |    lag(value) OVER (PARTITION BY grp ORDER BY bucket_start) AS prev_value
         |  FROM b
         |)
         |SELECT grp, bucket_start, value, prev_value,
         |  value - prev_value + 0.0 AS delta, CAST(rnk AS BIGINT) AS rnk
         |FROM (
         |  SELECT *, row_number() OVER (
         |    ORDER BY abs(value - prev_value + 0.0) DESC, grp, bucket_start) AS rnk
         |  FROM dl WHERE prev_value IS NOT NULL)
         |WHERE rnk <= 10""".stripMargin),
    Entry("ts_m4", (s, d) => Db.fromEvents(s, d).m4("view", Day),
      // M4 downsampling: first/last/min/max point per (series, bucket),
      // four row_number roles with total-order tiebreaks, a multi-role
      // point emitted once — identical rank semantics in both engines
      s"""$Ev
         |, b AS (
         |  SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start, ts, value
         |  FROM ev WHERE metric = 'view'
         |)
         |SELECT metric, ts, value, tag_user, tag_k, bucket_start FROM (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY metric, tag_user, tag_k, bucket_start
         |      ORDER BY ts, value) AS rf,
         |    row_number() OVER (PARTITION BY metric, tag_user, tag_k, bucket_start
         |      ORDER BY ts DESC, value DESC) AS rl,
         |    row_number() OVER (PARTITION BY metric, tag_user, tag_k, bucket_start
         |      ORDER BY value, ts) AS rmin,
         |    row_number() OVER (PARTITION BY metric, tag_user, tag_k, bucket_start
         |      ORDER BY value DESC, ts DESC) AS rmax
         |  FROM b)
         |WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1""".stripMargin),
    Entry("ts_active_series", (s, d) => Db.fromEvents(s, d).activeSeries("view", Day),
      // distinct active series per bucket: series id = tag values joined
      // with explicit NULL markers (concat_ws would skip nulls and
      // collide tagsets); tag order is the sorted column order (k, user)
      s"""$Ev
         |SELECT ${bucket(Day)} AS bucket_start,
         |  COUNT(DISTINCT coalesce(tag_k, '-') || '|' || coalesce(tag_user, '-')) AS n_series,
         |  COUNT(*) AS n_points
         |FROM ev WHERE metric = 'view'
         |GROUP BY 1""".stripMargin),
    // HLL++ cardinality sketch, band-gated against the exact count
    // (the buildBandCheck recipe applied to approx_count_distinct)
    Entry("ts_active_series_sketch", (s, d) => Db.fromEvents(s, d).activeSeriesApprox("view", Day),
      // HLL band gate: the oracle pins TRUE per bucket (cross-engine
      // parity on the estimate itself is impossible; booleans agree)
      s"""$Ev
         |SELECT ${bucket(Day)} AS bucket_start,
         |  COUNT(DISTINCT coalesce(tag_k, '-') || '|' || coalesce(tag_user, '-')) AS n_series,
         |  TRUE AS within_band
         |FROM ev WHERE metric = 'view'
         |GROUP BY 1""".stripMargin, Set(Tag.NoiseBand)),
    // the STREAMED sketch: exact countDistinct is unsupported in
    // streaming aggs — HLL's fixed-width merge-by-max registers are
    // the only streaming distinct-count shape; same band gate
    Entry("ts_active_series_sketch_streamed", (s, d) =>
      graft.streaming.StreamingAgg.streamedHllBand(s, d),
      // streamed HLL: same TRUE-pin band gate; the exact count is the
      // hash anchor, recomputed from raw points on both engines
      s"""$Ev
         |SELECT ${bucket(Day)} AS bucket_start,
         |  COUNT(DISTINCT coalesce(tag_k, '-') || '|' || coalesce(tag_user, '-')) AS n_series,
         |  TRUE AS within_band
         |FROM ev WHERE metric = 'view'
         |GROUP BY 1""".stripMargin),
    Entry("ts_sma", (s, d) => Db.fromEvents(s, d).sma("purchase"),
      // trailing 5-point moving average: same frame, same (ts, value)
      // ordering, same round(decimal-sum/count) op chain on both engines
      s"""$Ev
         |SELECT metric, ts, value, tag_user, tag_k,
         |  round(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
         |    / COUNT(*) OVER w, 6) AS sma
         |FROM ev WHERE metric = 'purchase'
         |WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value
         |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin),
    // per-group daily buckets PLUS the all-groups margin in one Expand
    Entry("ts_grouping_sets", (s, d) =>
      Db.fromEvents(s, d).avg("purchase", "user").granularity(Day).buildWithMargin(),
      // per-group buckets + the all-groups margin from ONE grouping-sets
      // pass; GROUPING() distinguishes margin rows from NULL group keys
      s"""$Ev
         |SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |  COUNT(*) AS n, $AvgV,
         |  CAST(GROUPING(tag_user, ${bucket(Day)}) AS BIGINT) AS gid
         |FROM ev WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |GROUP BY GROUPING SETS ((tag_user, ${bucket(Day)}), (${bucket(Day)}))""".stripMargin),
    // day-of-week seasonal baseline: bounded groups × 7 output
    Entry("ts_seasonal", (s, d) =>
      Db.fromEvents(s, d).avg("view", "user").buildSeasonal(),
      // day-of-week profile: ((ts // 1d) + 4) % 7, 0 = Sunday — int64
      // bucket math and the shared exact-decimal AVG chain
      s"""$Ev
         |SELECT tag_user AS grp, ((ts // ${Day}) + 4) % 7 AS dow,
         |  COUNT(*) AS n, $AvgV
         |FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    // the same profile from the STREAMED day partials re-aggregated
    // onto the dow grain — cross-grain partial reaggregation, by hash
    Entry("ts_seasonal_streamed", (s, d) =>
      graft.streaming.StreamingAgg.streamedSeasonal(s, d),
      s"""$Ev
         |SELECT tag_user AS grp, ((ts // ${Day}) + 4) % 7 AS dow,
         |  COUNT(*) AS n, $AvgV
         |FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    // gauge delta: last - first per (series × bucket), no extrapolation
    Entry("ts_delta", (s, d) => Db.fromEvents(s, d).delta("error", Day),
      // gauge delta: endpoint values picked by the same (ts, value)
      // total-order ranks on both engines; raw-double subtraction
      s"""$Ev
         |, b AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    ${bucket(Day)} AS bucket_start
         |  FROM ev WHERE metric = 'error'
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY tag_user, tag_k, bucket_start
         |      ORDER BY ts ASC, value ASC) AS rn_a,
         |    row_number() OVER (PARTITION BY tag_user, tag_k, bucket_start
         |      ORDER BY ts DESC, value DESC) AS rn_d
         |  FROM b
         |)
         |SELECT metric, tag_user, tag_k, bucket_start,
         |  MAX(CASE WHEN rn_d = 1 THEN value END)
         |    - MAX(CASE WHEN rn_a = 1 THEN value END) + 0.0 AS delta,
         |  COUNT(*) AS n
         |FROM r GROUP BY 1, 2, 3, 4""".stripMargin),
    // week-over-week ratio over daily sums (PromQL offset 1w)
    Entry("ts_wow", (s, d) =>
      Db.fromEvents(s, d).sum("click", "user").granularity(Day).buildWeekOverWeek(),
      // week-over-week: the bounded aggregated frame self-joined at a
      // 7-day offset; one IEEE ratio, + 0.0 canonicalized
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start, $SumV
         |  FROM ev WHERE metric = 'click' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT a.grp, a.bucket_start, a.value, p.value AS prev_value,
         |  a.value / p.value + 0.0 AS wow_ratio
         |FROM a JOIN a p ON a.grp = p.grp
         |  AND a.bucket_start = p.bucket_start + 604800000000000""".stripMargin),
    // faithful PromQL rate(): boundary-extrapolated, zero-capped
    Entry("ts_xrate", (s, d) => Db.fromEvents(s, d).xrate("click", Week),
      // faithful PromQL rate(): the identical pair chain, decimal
      // increase, and extrapolation CASE chain in the same op order
      s"""$Ev
         |, b AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    ${bucket(Week)} AS bucket_start
         |  FROM ev WHERE metric = 'click'
         |), p AS (
         |  SELECT *, lag(ts) OVER w AS prev_ts, lag(value) OVER w AS prev_v,
         |    row_number() OVER w AS rn
         |  FROM b
         |  WINDOW w AS (PARTITION BY tag_user, tag_k, bucket_start
         |    ORDER BY ts, value)
         |), c AS (
         |  SELECT *, CASE WHEN prev_ts IS NOT NULL AND prev_ts < ts
         |    THEN CASE WHEN value >= prev_v THEN value - prev_v ELSE value END
         |    ELSE NULL END AS contrib
         |  FROM p
         |), a AS (
         |  SELECT metric, tag_user, tag_k, bucket_start,
         |    COUNT(*) AS n, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         |    MAX(CASE WHEN rn = 1 THEN value END) AS first_v,
         |    CAST(SUM(CAST(contrib AS DECIMAL(28,6))) AS DOUBLE) AS inc
         |  FROM c GROUP BY 1, 2, 3, 4
         |  HAVING COUNT(*) >= 2 AND MAX(ts) > MIN(ts)
         |), x AS (
         |  SELECT *,
         |    (first_ts - bucket_start) / 1e9 AS d_start,
         |    (bucket_start + ${Week} - last_ts) / 1e9 AS d_end,
         |    (last_ts - first_ts) / 1e9 AS sampled
         |  FROM a
         |), y AS (
         |  SELECT *, sampled / (n - 1) AS avg_dur,
         |    CASE WHEN inc > 0.0e0 AND first_v >= 0.0e0
         |      THEN least(d_start, sampled * (first_v / inc))
         |      ELSE d_start END AS d_start2
         |  FROM x
         |), z AS (
         |  SELECT *,
         |    CASE WHEN d_start2 < avg_dur * 1.1e0 THEN d_start2
         |         ELSE avg_dur / 2.0e0 END AS ext_s,
         |    CASE WHEN d_end < avg_dur * 1.1e0 THEN d_end
         |         ELSE avg_dur / 2.0e0 END AS ext_e
         |  FROM y
         |)
         |SELECT metric, tag_user, tag_k, bucket_start, n,
         |  inc * ((sampled + ext_s + ext_e) / sampled)
         |    / (${Week} / 1e9) + 0.0 AS xrate
         |FROM z""".stripMargin),
    // 7-bucket trailing moving average over the daily sum frame
    Entry("ts_trailing", (s, d) =>
      Db.fromEvents(s, d).sum("view", "user").granularity(Day).buildTrailing(),
      // trailing mean: DECIMAL window sum (double window sums hit
      // engine-divergent summation trees), observed buckets only
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         COUNT(*) AS n, $SumV
         |  FROM ev WHERE metric = 'view' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start, n, value,
         |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         |    / COUNT(*) OVER w, 6) AS trailing
         |FROM a
         |WINDOW w AS (PARTITION BY grp ORDER BY bucket_start
         |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    // trailing rolling median: the robust smoother one outlier bucket
    // cannot move; exact-interpolated percentile per ROWS frame
    Entry("ts_rolling_median", (s, d) =>
      Db.fromEvents(s, d).sum("purchase", "user").granularity(Day)
        .buildRollingMedian(),
      // rolling median: quantile_cont per ROWS frame + round-6 — the
      // ts_quantile parity recipe applied per frame
      s"""$Ev
         |, a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |         COUNT(*) AS n, $SumV
         |  FROM ev WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start, n, value,
         |  round(quantile_cont(CAST(value AS DOUBLE), 0.5) OVER w, 6)
         |    AS rolling_median
         |FROM a
         |WINDOW w AS (PARTITION BY grp ORDER BY bucket_start
         |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),
    // additive Holt-Winters over daily bucket totals, 7-slot seasonal
    Entry("ts_holt_winters", (s, d) =>
      Db.fromEvents(s, d).holtWinters("purchase", "user", Day),
      // additive Holt-Winters: a per-group RECURSIVE step fold threading
      // (s, b, rotating 7-slot seasonal queue) — the queue head is always
      // the current index's slot, so no index arithmetic exists to
      // diverge; every constant e-notation, 1−α/β/γ COMPUTED. (A
      // list_reduce struct fold is NOT usable here: DuckDB evaluates
      // struct_pack fields against a partially-overwritten accumulator —
      // measured field-order-dependent results — so the oracle uses the
      // recursive CTE pattern dedup_cluster already established.)
      s"""WITH RECURSIVE ev AS (
         |  SELECT event_type AS metric, epoch_ns(ts) AS ts, value,
         |         CAST(user_id AS VARCHAR) AS tag_user
         |  FROM events
         |), a AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start, $SumV
         |  FROM ev WHERE metric = 'purchase' AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |), seq AS (
         |  SELECT grp, bucket_start, value,
         |    row_number() OVER (PARTITION BY grp ORDER BY bucket_start) - 1 AS idx
         |  FROM a
         |), rec AS (
         |  SELECT grp, idx, bucket_start, value,
         |    CAST(value AS DOUBLE) AS s, 0.0e0 AS b,
         |    [0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0] AS c,
         |    CAST(value AS DOUBLE) + 0.0e0 AS fit
         |  FROM seq WHERE idx = 0
         |  UNION ALL
         |  SELECT grp, idx, bucket_start, value, s_new,
         |    0.1e0 * (s_new - s_old) + (1.0e0 - 0.1e0) * b_old,
         |    list_concat(c_old[2:7],
         |      [0.2e0 * (value - s_new) + (1.0e0 - 0.2e0) * c1_old]),
         |    s_new + c1_old
         |  FROM (
         |    SELECT q.grp, q.idx, q.bucket_start, q.value,
         |      h.s AS s_old, h.b AS b_old, h.c AS c_old, h.c[1] AS c1_old,
         |      0.3e0 * (q.value - h.c[1])
         |        + (1.0e0 - 0.3e0) * (h.s + h.b) AS s_new
         |    FROM rec h JOIN seq q ON q.grp = h.grp AND q.idx = h.idx + 1
         |  )
         |)
         |SELECT grp, bucket_start, value, fit AS hw FROM rec""".stripMargin),
    Entry("ts_resets", (s, d) => Db.fromEvents(s, d).resets("click", Day),
      // counter resets (PromQL resets()): consecutive-pair value DROPS per
      // (series, bucket of the later point); integer outputs, same
      // (ts, value) pair ordering and strict Δt>0 filter as ts_increase
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    lag(ts) OVER w AS prev_ts,
         |    lag(value) OVER w AS prev_value
         |  FROM ev WHERE metric = 'click'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |)
         |SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |  CAST(SUM(CASE WHEN value < prev_value THEN 1 ELSE 0 END) AS BIGINT) AS resets,
         |  COUNT(*) AS n_pairs
         |FROM d WHERE prev_ts IS NOT NULL AND prev_ts < ts
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    Entry("ts_changes", (s, d) => Db.fromEvents(s, d).changes("view", Day),
      // value changes (PromQL changes()): consecutive pairs whose value
      // differs — the flap detector; same pair frame as ts_resets
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ts, value,
         |    lag(ts) OVER w AS prev_ts,
         |    lag(value) OVER w AS prev_value
         |  FROM ev WHERE metric = 'view'
         |  WINDOW w AS (PARTITION BY tag_user, tag_k ORDER BY ts, value)
         |)
         |SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |  CAST(SUM(CASE WHEN value <> prev_value THEN 1 ELSE 0 END) AS BIGINT) AS changes,
         |  COUNT(*) AS n_pairs
         |FROM d WHERE prev_ts IS NOT NULL AND prev_ts < ts
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    Entry("ts_deriv", (s, d) => Db.fromEvents(s, d).deriv("view", Day),
      // least-squares slope per (series, bucket) — PromQL deriv(): all
      // five regression sums are EXACT decimals (t = ns into the bucket,
      // decimal(14,0); products within the 38-digit cap), so the closed
      // form is one identical IEEE chain over exact inputs on both
      // engines; single-point buckets → NULL
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |    -- DECIMAL(19,_) forces int128 storage so the t*t / t*v
         |    -- multiplies can't overflow DuckDB's int64 fast path; the
         |    -- VALUES are identical to Spark's decimal(14,0)/(18,6)
         |    CAST(ts - ${bucket(Day)} AS DECIMAL(19,0)) AS t,
         |    CAST(value AS DECIMAL(19,6)) AS v
         |  FROM ev WHERE metric = 'view'
         |)
         |SELECT metric, tag_user, tag_k, bucket_start, COUNT(*) AS n,
         |  CASE WHEN COUNT(*) * CAST(SUM(t*t) AS DOUBLE)
         |            - CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE) = 0.0
         |       THEN NULL
         |       ELSE (COUNT(*) * CAST(SUM(t*v) AS DOUBLE)
         |             - CAST(SUM(t) AS DOUBLE) * CAST(SUM(v) AS DOUBLE))
         |            / (COUNT(*) * CAST(SUM(t*t) AS DOUBLE)
         |               - CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE))
         |            * 1e9 + 0.0
         |  END AS slope_per_s
         |FROM d GROUP BY 1, 2, 3, 4""".stripMargin),
    Entry("ts_predict", (s, d) =>
      Db.fromEvents(s, d).predictLinear("view", Day, Duration.hours(4)),
      // linear forecast at bucket end + 4h from the same exact regression
      // sums as ts_deriv; intercept + extrapolation is one shared IEEE
      // chain (m computed once in a CTE — pure float, same value)
      s"""$Ev
         |, d AS (
         |  SELECT metric, tag_user, tag_k, ${bucket(Day)} AS bucket_start,
         |    CAST(ts - ${bucket(Day)} AS DECIMAL(19,0)) AS t,
         |    CAST(value AS DECIMAL(19,6)) AS v
         |  FROM ev WHERE metric = 'view'
         |), s AS (
         |  SELECT metric, tag_user, tag_k, bucket_start, COUNT(*) AS n,
         |    CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(t*t) AS DOUBLE) AS stt,
         |    CAST(SUM(v) AS DOUBLE) AS sv, CAST(SUM(t*v) AS DOUBLE) AS stv
         |  FROM d GROUP BY 1, 2, 3, 4
         |), m AS (
         |  SELECT *, CASE WHEN n * stt - st * st = 0.0 THEN NULL
         |    ELSE (n * stv - st * sv) / (n * stt - st * st) END AS m
         |  FROM s
         |)
         |SELECT metric, tag_user, tag_k, bucket_start, n,
         |  (sv - m * st) / n + m * 100800000000000.0 + 0.0 AS predicted
         |FROM m""".stripMargin),
    Entry("ts_corr", (s, d) =>
      Db.fromEvents(s, d).corrAligned("click", "purchase", "user", Day),
      // cross-metric Pearson r per group over aligned per-bucket TOTALS
      // (exact decimals end-to-end — a rounded-double average cast back
      // to decimal would re-enter the engine-divergent half-boundary
      // minefield); |r| capped at 1, zero-variance groups → NULL
      s"""$Ev
         |, p AS (
         |  SELECT tag_user AS grp, ${bucket(Day)} AS bucket_start,
         |    CAST(SUM(CASE WHEN metric = 'click'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DECIMAL(18,6)) AS x,
         |    CAST(SUM(CASE WHEN metric = 'purchase'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DECIMAL(18,6)) AS y
         |  FROM ev WHERE metric IN ('click', 'purchase')
         |    AND tag_user IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, COUNT(*) AS n,
         |  CASE WHEN COUNT(*) * CAST(SUM(x*x) AS DOUBLE)
         |            - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) <= 0.0
         |         OR COUNT(*) * CAST(SUM(y*y) AS DOUBLE)
         |            - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE) <= 0.0
         |       THEN NULL
         |       ELSE least(greatest(
         |         (COUNT(*) * CAST(SUM(x*y) AS DOUBLE)
         |          - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
         |         / (sqrt(COUNT(*) * CAST(SUM(x*x) AS DOUBLE)
         |                 - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
         |            * sqrt(COUNT(*) * CAST(SUM(y*y) AS DOUBLE)
         |                   - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE)))
         |         + 0.0, -1.0), 1.0)
         |  END AS r
         |FROM p WHERE x IS NOT NULL AND y IS NOT NULL
         |GROUP BY 1""".stripMargin),
    // PromQL binary operator (a / b with on(group) matching): per-k
    // daily error-per-view rate — one scan of metric IN (a,b),
    // conditional decimal bucket sums, one raw IEEE division
    Entry("ts_ratio", (s, d) =>
      Db.fromEvents(s, d).ratioAligned("error", "view", "k", Day),
      // the same conditional-decimal-sum alignment frame as ts_corr,
      // then ONE raw IEEE division (+ 0.0) — zero denominator → NULL
      s"""$Ev
         |, p AS (
         |  SELECT tag_k AS grp, ${bucket(Day)} AS bucket_start,
         |    CAST(SUM(CASE WHEN metric = 'error'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DECIMAL(18,6)) AS x,
         |    CAST(SUM(CASE WHEN metric = 'view'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DECIMAL(18,6)) AS y
         |  FROM ev WHERE metric IN ('error', 'view')
         |    AND tag_k IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT grp, bucket_start,
         |  CASE WHEN y = 0 THEN NULL
         |       ELSE CAST(x AS DOUBLE) / CAST(y AS DOUBLE) + 0.0
         |  END AS ratio
         |FROM p WHERE x IS NOT NULL AND y IS NOT NULL""".stripMargin),
    // daily avg answered from an HOURLY materialized rollup — the oracle
    // is the raw-data SQL, so the hash match IS the associativity proof
    Entry("ts_rollup_avg", (s, d) => {
      val rollup = graft.tsdb.Ingest.openRollup(
        s, graft.tsdb.Ingest.ensureRollup(s, d, Duration.hours(1)), Duration.hours(1))
      rollup.avg("purchase", "user", Day)
    },
      tsAgg("purchase", "user", AvgV)),
    // WEEKLY avg answered from the multi-resolution LADDER: a daily
    // rollup built FROM the hourly rollup's partials (never from raw),
    // the M3/Thanos downsampling posture — matching the raw-points
    // oracle proves level-cascade associativity end-to-end
    Entry("ts_rollup_cascade", (s, d) => {
      val path = graft.tsdb.Ingest.ensureRollupCascade(
        s, d, Duration.hours(1), Day)
      graft.tsdb.Ingest.openRollup(s, path, Day).avg("purchase", "user", Week)
    },
      tsAgg("purchase", "user", AvgV, width = Week)),
    // storage-aware ROUTING over the hour→day ladder: the router picks
    // the coarsest level dividing the query width (Week → the DAY
    // level, never raw events — spec-asserted on the physical plan)
    // and the raw-points oracle hash proves the routed answer exact;
    // weekly MAX exercises the min/max partial combine through BOTH
    // cascade folds, where the cascade entries prove avg
    Entry("ts_ladder_route", (s, d) =>
      graft.tsdb.Ladder.ensure(s, d).max("purchase", "user", Week),
      tsAgg("purchase", "user", "MAX(value) AS value",
        width = Week)),
    // the LADDER over the STREAMED hourly landing: day partials folded
    // from the batch-id-staged streaming rollup — the downsampling
    // cascade does not care how its source level was landed
    Entry("ts_rollup_cascade_streamed", (s, d) => {
      val hourly = graft.streaming.StreamingRollup.ensureStreamed(
        s, d, Duration.hours(1))
      val path = graft.tsdb.Ingest.ensureRollupCascadeFrom(
        s, hourly, Duration.hours(1), Day)
      graft.tsdb.Ingest.openRollup(s, path, Day).avg("purchase", "user", Week)
    },
      tsAgg("purchase", "user", AvgV, width = Week)),
    // the same daily avg answered from a rollup built by the STREAMING
    // landing path (micro-batched foreachBatch, batch-id-staged
    // exactly-once dirs): matching the raw-points oracle proves the
    // whole streamed landing exact end-to-end — the first streaming
    // component under the driver gate
    Entry("ts_rollup_streamed", (s, d) => {
      val path = graft.streaming.StreamingRollup.ensureStreamed(
        s, d, Duration.hours(1))
      graft.tsdb.Ingest.openRollup(s, path, Duration.hours(1))
        .avg("purchase", "user", Day)
    },
      tsAgg("purchase", "user", AvgV)),
    // per-point increase/ewma answered from a layout landed by the
    // STATEFUL streaming path (flatMapGroupsWithState, batch-id-staged
    // exactly-once dirs): matching the raw-events oracle proves the
    // state-store fold exact end-to-end — the third streamed driver
    // entry, and the first stateful one
    Entry("ts_ewma_streamed", (s, d) => {
      val path = graft.streaming.StreamingSeriesState.ensureStreamed(s, d, "click")
      graft.streaming.StreamingSeriesState.openStreamed(s, path)
    },
      // the STREAMED per-series enrichment layout vs an independent
      // raw-events re-derivation: the ewma fold is the list_reduce prefix
      // fold, the per-point increase is the pair chain with 0 for first
      // points and duplicate timestamps — hash match proves the stateful
      // streaming landing exact
      s"""$Ev
         |, e2 AS (
         |  SELECT tag_user || '|' || coalesce(tag_k, '∅') AS series, ts, value
         |  FROM ev WHERE metric = 'click'
         |), s AS (
         |  SELECT series, ts, value,
         |    lag(ts) OVER w AS prev_ts, lag(value) OVER w AS prev_value,
         |    array_agg(value) OVER (PARTITION BY series ORDER BY ts, value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
         |  FROM e2
         |  WINDOW w AS (PARTITION BY series ORDER BY ts, value)
         |)
         |SELECT series, ts, value,
         |  CASE WHEN prev_ts IS NULL OR prev_ts >= ts THEN 0e0
         |       ELSE greatest(value - prev_value, 0e0) END AS increase,
         |  list_reduce(pref, (a, b) ->
         |    (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * a
         |      + CAST(0.3 AS DOUBLE) * b) AS ewma
         |FROM s""".stripMargin),
    // per-point EXPANDING z-score landed by the stateful streaming
    // path (exact-decimal (n, Σv, Σv²) state — every point scored
    // against its full per-series history at arrival); the oracle
    // re-derives the identical chain with expanding decimal window
    // sums — the tenth streamed driver entry
    Entry("ts_zscore_streamed", (s, d) => {
      val path = graft.streaming.StreamingSeriesState.ensureStreamedZ(s, d, "error")
      graft.streaming.StreamingSeriesState.openStreamed(s, path)
    },
      // the STREAMED expanding z landing vs an independent re-derivation:
      // exact-decimal expanding window sums (Σ decimal(28,6) v,
      // Σ decimal(18,6)² v) per series in (ts, value) order, then the
      // identical IEEE chain sqrt(max((sq − s²/n)/n, 0)) with NULL for
      // n = 1 or σ = 0 — bit-equal to the state-store fold by the
      // ts_zscore recipe
      s"""$Ev
         |, e2 AS (
         |  SELECT tag_user || '|' || coalesce(tag_k, '∅') AS series, ts, value
         |  FROM ev WHERE metric = 'error'
         |), w AS (
         |  SELECT series, ts, value,
         |    COUNT(*) OVER win AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER win AS DOUBLE) AS s,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS sq
         |  FROM e2
         |  WINDOW win AS (PARTITION BY series ORDER BY ts, value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT series, ts, value,
         |  CASE WHEN n = 1 OR sqrt(greatest((sq - (s * s) / n) / n, 0e0)) = 0e0
         |       THEN NULL
         |       ELSE (value - s / n)
         |         / sqrt(greatest((sq - (s * s) / n) / n, 0e0)) + 0e0
         |  END AS z
         |FROM w""".stripMargin),
    // per-point cumulative reset/change counters landed by the stateful
    // streamed fold; integer-exact vs the batch lag re-derivation
    Entry("ts_flaps_streamed", (s, d) => {
      val path = graft.streaming.StreamingSeriesState.ensureStreamedFlaps(s, d, "view")
      graft.streaming.StreamingSeriesState.openStreamed(s, path)
    },
      // streamed flap counters: lag pair indicators (strict-Δt pairing,
      // duplicate-ts arrivals pair nothing) + running integer sums — the
      // batch re-derivation of the stateful fold, exact by construction
      s"""$Ev
         |, e2 AS (
         |  SELECT tag_user || '|' || coalesce(tag_k, '∅') AS series, ts, value
         |  FROM ev WHERE metric = 'view'
         |), d AS (
         |  SELECT series, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NOT NULL AND lag(ts) OVER w < ts
         |              AND value < lag(value) OVER w THEN 1 ELSE 0 END AS is_reset,
         |    CASE WHEN lag(ts) OVER w IS NOT NULL AND lag(ts) OVER w < ts
         |              AND value <> lag(value) OVER w THEN 1 ELSE 0 END AS is_change
         |  FROM e2
         |  WINDOW w AS (PARTITION BY series ORDER BY ts, value)
         |)
         |SELECT series, ts, value,
         |  CAST(SUM(is_reset) OVER c AS BIGINT) AS resets,
         |  CAST(SUM(is_change) OVER c AS BIGINT) AS changes
         |FROM d
         |WINDOW c AS (PARTITION BY series ORDER BY ts, value
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // the SAME fold replayed UNCACHED across 4 in-order micro-batches
    // on every invocation: ts_flaps_streamed's landing is content-keyed
    // (a state-contract change would serve the stale layout); this
    // entry pins the cross-batch fold itself in the hash gate
    Entry("ts_flaps_replay", (s, d) =>
      graft.streaming.StreamingSeriesState.replayFlaps(s, d, "view"),
      s"""$Ev
         |, e2 AS (
         |  SELECT tag_user || '|' || coalesce(tag_k, '∅') AS series, ts, value
         |  FROM ev WHERE metric = 'view'
         |), d AS (
         |  SELECT series, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NOT NULL AND lag(ts) OVER w < ts
         |              AND value < lag(value) OVER w THEN 1 ELSE 0 END AS is_reset,
         |    CASE WHEN lag(ts) OVER w IS NOT NULL AND lag(ts) OVER w < ts
         |              AND value <> lag(value) OVER w THEN 1 ELSE 0 END AS is_change
         |  FROM e2
         |  WINDOW w AS (PARTITION BY series ORDER BY ts, value)
         |)
         |SELECT series, ts, value,
         |  CAST(SUM(is_reset) OVER c AS BIGINT) AS resets,
         |  CAST(SUM(is_change) OVER c AS BIGINT) AS changes
         |FROM d
         |WINDOW c AS (PARTITION BY series ORDER BY ts, value
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      Set(Tag.Validation)),
    // per-point z with bucket stats from the hourly PARTIALS broadcast
    // onto the unshuffled point scan; the oracle is ts_zscore's
    // raw-window SQL — the hash match proves the partial path exact
    Entry("ts_zscore_rollup", (s, d) => {
      val rollup = graft.tsdb.Ingest.openRollup(
        s, graft.tsdb.Ingest.ensureRollup(s, d, Duration.hours(1)), Duration.hours(1))
      rollup.zscoreOver(Db.fromEvents(s, d), "error", "user", Day)
    },
      ZscoreSql),
    // the same layout round-trip fed by the STREAMING ingestion path
    // (micro-batched file source → exactly-once parquet sink,
    // metric-partitioned): matching ts_ingest_avg's raw-events oracle
    // proves a streaming-fed layout interchangeable with a batch-written
    // one — the eighth streamed driver entry
    Entry("ts_ingest_streamed", (s, d) => {
      val layout = graft.streaming.StreamingIngest.ensureStreamedLayout(s, d)
      graft.tsdb.Ingest.open(s, layout)
        .avg("purchase", "user").filter("k:1*").granularity(Day).build()
    },
      tsAgg("purchase", "user", AvgV, "tag_k LIKE '1%'")),
    // full round-trip through the graft on-disk layout: write once
    // (partitioned by metric, ts-sorted), reopen, query — proves the
    // ingest path yields identical results with dir pruning + pushdown
    Entry("ts_ingest_avg", (s, d) => {
      val layout = graft.tsdb.Ingest.ensureLayout(s, d)
      graft.tsdb.Ingest.open(s, layout)
        .avg("purchase", "user").filter("k:1*").granularity(Day).build()
    },
      tsAgg("purchase", "user", AvgV, "tag_k LIKE '1%'")),

    // ---- General analytics (Spark batch-query layer) ----
    Entry("q1_agg", (s, d) => graft.operators.Analytics.q1(s, d),
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        | round(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*), 6) AS avg_qty,
        | round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/COUNT(*), 6) AS avg_price,
        | round(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)/COUNT(*), 6) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY 1, 2""".stripMargin),
    Entry("q3_join", (s, d) => graft.operators.Analytics.q3(s, d),
      """SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin),
    Entry("q5_multijoin", (s, d) => graft.operators.Analytics.q5(s, d),
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),
    Entry("q_rollup_cube", (s, d) => graft.operators.Analytics.rollupCube(s, d),
      // one Expand + one hash aggregate on the Spark side; GROUPING marks
      // subtotal rows apart from genuine NULL group keys on both engines
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)""".stripMargin),
    Entry("q_cube", (s, d) => graft.operators.Analytics.cubeAgg(s, d),
      // CUBE: all four grouping sets, same single-Expand plan on Spark
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE (year(o_orderdate), o_orderpriority)""".stripMargin),
    Entry("q_grouping_sets", (s, d) => graft.operators.Analytics.groupingSetsAgg(s, d),
      // custom sets: the detail grid + a per-priority margin only —
      // Expand replication = number of SETS (2), not 2^keys
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority), (o_orderpriority))""".stripMargin),
    Entry("q_topk_window", (s, d) => graft.operators.Analytics.topkPerBrand(s, d),
      """SELECT p_brand, p_partkey, CAST(rev_dec AS DOUBLE) AS revenue, rnk FROM (
        |  SELECT p_brand, p_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec,
        |         rank() OVER (PARTITION BY p_brand ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC, p_partkey) AS rnk
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey
        |) WHERE rnk <= 3""".stripMargin),
    Entry("q4_semijoin", (s, d) => graft.operators.Analytics.q4SemiJoin(s, d),
      // EXISTS via LEFT SEMI: half-year order window, lateness predicate
      // as the join residual; all-integer outputs
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin),
    Entry("q17_avg_subquery", (s, d) => graft.operators.Analytics.q17AvgSubquery(s, d),
      // correlated scalar-aggregate subquery, decorrelated: per-part 20%
      // avg-quantity threshold joined back; the threshold chain is
      // decimal-sum / count * 0.2e0 (e-notation keeps DuckDB in DOUBLE
      // math) so the qualifying set is engine-identical
      """WITH th AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |      / COUNT(*) * 0.2e0 AS lim
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / 7.0e0 AS avg_yearly,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN th USING (l_partkey)
        |  JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < lim
        |GROUP BY 1""".stripMargin),
    Entry("q10_returns", (s, d) => graft.operators.Analytics.q10Returns(s, d),
      // TPC-H Q10: top-20 customers by returned revenue in a quarter;
      // (revenue DESC, c_custkey) total order makes the cut deterministic
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Entry("q18_large_volume", (s, d) => graft.operators.Analytics.q18LargeVolume(s, d),
      // TPC-H Q18: HAVING-qualified order set applied semi-join-first;
      // top-100 on the (o_totalprice DESC, o_orderkey) total order
      """WITH q AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250.0
        |)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN q ON o_orderkey = q.l_orderkey
        |JOIN lineitem ON o_orderkey = lineitem.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Entry("q8_market_share", (s, d) => graft.operators.Analytics.q8MarketShare(s, d),
      // TPC-H Q8: one-pass conditional share — numerator and denominator
      // as decimal sums in the same aggregate, one IEEE division
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN n_name = 'NATION_2'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |  + 0.0 AS mkt_share,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS region_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin),
    // Q7 volume shipping: filtered nation sides broadcast; the only
    // fact-grain exchange is lineitem x orders on the order key
    Entry("q7_volume", (s, d) => graft.operators.Analytics.q7Volume(s, d),
      // Q7: same decimal revenue chain; either-direction nation pairs
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE ns.n_name IN ('NATION_1', 'NATION_2')
        |    AND nc.n_name IN ('NATION_1', 'NATION_2')
        |    AND ns.n_name <> nc.n_name)
        |GROUP BY 1, 2, 3""".stripMargin, Set(Tag.NoiseBand)),
    // Q14 promotion effect: two conditional aggregates in one pass,
    // part broadcast, year predicate at the scan
    Entry("q14_promo", (s, d) => graft.operators.Analytics.q14Promo(s, d),
      // Q14: conditional-aggregate promo share, one IEEE chain at the end
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE)
        |  * 100.0 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |  + 0.0 AS promo_pct,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE year(l_shipdate) = 1998""".stripMargin),
    // Q2 min-cost supplier: correlated MIN subquery as stacked argmin
    // aggregates (min over struct), region-filtered suppliers broadcast
    Entry("q2_min_cost_supp", (s, d) => graft.operators.Analytics.q2MinCostSupp(s, d),
      // Q2: argmin via window rank — equivalent to Spark's min(struct)
      // with the same (cost, suppkey) tie-break
      """WITH supp AS (
        |  SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |costs AS (
        |  SELECT l_partkey AS p_partkey, s_suppkey, s_name,
        |    MIN(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS cost
        |  FROM lineitem JOIN supp ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT p_partkey, s_suppkey, s_name, cost,
        |    row_number() OVER (PARTITION BY p_partkey ORDER BY cost, s_suppkey) AS rn
        |  FROM costs)
        |SELECT p_partkey, s_suppkey, s_name, CAST(cost AS DOUBLE) AS min_cost
        |FROM ranked WHERE rn = 1""".stripMargin),
    // Q9 product-type profit: exact-decimal profit per (nation, year)
    Entry("q9_profit", (s, d) => graft.operators.Analytics.q9Profit(s, d),
      // Q9: exact-decimal profit (revenue minus 10%-of-retail unit cost)
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE) AS sum_profit,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin),
    // Q12 late-shipment priority audit: conditional counts, one pass
    Entry("q12_priority", (s, d) => graft.operators.Analytics.q12Priority(s, d),
      // Q12: late-line priority counts per linestatus (no shipmode in
      // this schema; late = shipped >60 days after order date)
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin),
    // Q13 order-count distribution: LEFT OUTER join keeps the k=0 bucket
    Entry("q13_order_dist", (s, d) => graft.operators.Analytics.q13OrderDist(s, d),
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY 1""".stripMargin),
    // Q15 top supplier: scalar MAX subquery as a one-row broadcast
    Entry("q15_top_supplier", (s, d) => graft.operators.Analytics.q15TopSupplier(s, d),
      // Q15: supplier(s) at the quarterly revenue maximum (exact-decimal
      // equality, ties surface)
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev = (SELECT MAX(rev) FROM rev)""".stripMargin),
    // Q19 disjunctive brand/size/quantity predicate, single codegen pass
    Entry("q19_disjunctive", (s, d) => graft.operators.Analytics.q19Disjunctive(s, d),
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Q21 suppliers who kept orders waiting: double-correlated EXISTS
    // collapsed to one order-grain aggregate (no fact self-join)
    Entry("q21_waiting", (s, d) => graft.operators.Analytics.q21Waiting(s, d),
      // Q21: one order-grain aggregate replaces the double-correlated
      // EXISTS/NOT EXISTS pair; late = shipped >60 days after order date
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS lone_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1)
        |SELECT lone_late AS s_suppkey, s_name, COUNT(*) AS numwait
        |FROM per_order JOIN supplier ON lone_late = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1, 2""".stripMargin),
    // Q22 global sales opportunity: division-free balance threshold +
    // LEFT ANTI against urgent-order customers
    Entry("q22_global", (s, d) => graft.operators.Analytics.q22Global(s, d),
      // Q22: division-free above-average-balance threshold
      // (bal * n_pos > sum_pos, exact decimal) + NOT EXISTS on urgent orders
      """WITH stats AS (
        |  SELECT COUNT(*) AS n_pos, SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer, stats
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_pos
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin),
    // Q11 important stock: division-free fraction-of-total threshold
    // over the part-grain aggregate (global window, one fact scan)
    Entry("q11_important_stock", (s, d) => graft.operators.Analytics.q11ImportantStock(s, d),
      """WITH v AS (
        |  SELECT l_partkey AS p_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1)
        |SELECT p_partkey, CAST(val AS DOUBLE) AS value
        |FROM v WHERE val * 1000 > (SELECT SUM(val) FROM v)""".stripMargin),
    // Q16 parts/supplier: distinct-supplier count per (brand,type,size),
    // NOT IN as LEFT ANTI on the flagged-supplier keys
    Entry("q16_parts_supplier", (s, d) => graft.operators.Analytics.q16PartsSupplier(s, d),
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 9, 16, 25, 36)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),
    // Q20 potential promotion: above-average shipped-quantity suppliers,
    // division-free threshold over the supplier-grain aggregate
    Entry("q20_potential_promo", (s, d) => graft.operators.Analytics.q20PotentialPromo(s, d),
      """WITH q AS (
        |  SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1997
        |  GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n, SUM(qty) AS tot FROM q)
        |SELECT s_suppkey, s_name, CAST(qty AS DOUBLE) AS qty
        |FROM q, s JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty * n * 10 > 12 * tot""".stripMargin),
    Entry("q6_forecast", (s, d) => graft.operators.Analytics.q6Forecast(s, d),
      // TPC-H Q6: the pure scan query — every predicate pushed, one
      // 1-row aggregate; discount bounds e-notation (double semantics)
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
        |  AND l_quantity < 24.0e0""".stripMargin),
    // perceptual average-hash fingerprint per blob (image near-dup key)
    Entry("mm_phash", (s, d) => graft.operators.Multimodal
      .phashBatch(graft.operators.Multimodal.blobFrame(s, d)),
      s"SELECT doc_id, mime, phash FROM ${golden("mm_phash")}", Set(Tag.Golden)),
    // image near-dup pairs: banded Hamming join over the phash
    Entry("mm_phash_pairs", (s, d) => graft.operators.Multimodal.phashPairs(s, d),
      // the pairs re-derive IN DUCKDB from the pinned phash golden: band
      // agreement + bit-count verify — an independent engine runs the
      // same banding algebra over the pinned fingerprints
      s"""WITH h AS (SELECT doc_id, phash
         |  FROM ${golden("mm_phash")}),
         |banded AS (
         |  SELECT doc_id, phash, j AS band,
         |    (phash >> (j * 16)) & 65535 AS band_val
         |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.band_val = b.band_val
         | AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),
    // end-to-end image dedup: phash pairs → components → keeper
    Entry("mm_dedup_images", (s, d) => graft.operators.Multimodal.dedupImages(s, d),
      // image dedup: banding + bit-count verify + RECURSIVE component
      // closure + min-id keeper, all re-derived in DuckDB from the
      // pinned fingerprints — the independent engine runs the whole
      // pipeline over the golden hashes
      s"""WITH RECURSIVE h AS (SELECT doc_id, phash
         |  FROM ${golden("mm_phash")}),
         |banded AS (
         |  SELECT doc_id, phash, j AS band,
         |    (phash >> (j * 16)) & 65535 AS band_val
         |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT src AS id, src AS comp FROM e
         |      UNION SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id),
         |c AS (SELECT id, min(comp) AS comp FROM r GROUP BY id),
         |sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp),
         |kept AS (
         |  SELECT c.id AS doc_id, s.cluster_size
         |  FROM c JOIN sizes s ON c.comp = s.comp WHERE c.id = c.comp)
         |SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM c)
         |UNION ALL
         |SELECT doc_id, cluster_size FROM kept""".stripMargin),
    // sampled-frame fingerprints over the planted clip corpus
    // (golden-pinned; the byte kernel is not SQL-recreatable)
    Entry("mm_video_frames", (s, d) =>
      graft.operators.Multimodal.videoFrames(s, d),
      s"""SELECT doc_id, frame_idx, frame_md5
         |FROM ${golden("mm_video_frames")}""".stripMargin, Set(Tag.Golden)),
    // frame-CONTAINMENT video dedup end-to-end: a truncated clip
    // shares most frames with its source; posting-list pairs →
    // components → keeper (the fourth signal through pipelineOverPairs)
    Entry("mm_dedup_frames", (s, d) =>
      graft.operators.Multimodal.dedupFrames(s, d),
      // frame containment + transitive closure + min-id keeper re-derived
      // IN DUCKDB from the pinned fingerprints: stop-frame cut first,
      // sizes and the denominator over the post-cut sets (the
      // dedup_containment contract), then the mm_dedup_images closure
      s"""WITH RECURSIVE f0 AS (
         |  SELECT DISTINCT doc_id, frame_md5
         |  FROM ${golden("mm_video_frames")}),
         |ok AS (SELECT frame_md5 FROM f0 GROUP BY 1 HAVING COUNT(*) <= 20),
         |f AS (SELECT f0.doc_id, f0.frame_md5 FROM f0 JOIN ok USING (frame_md5)),
         |sz AS (SELECT doc_id, COUNT(*) AS nf FROM f GROUP BY 1),
         |p0 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM f a JOIN f b
         |    ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b FROM p0
         |  JOIN sz sa ON p0.doc_a = sa.doc_id
         |  JOIN sz sb ON p0.doc_b = sb.doc_id
         |  WHERE round(CAST(shared AS DOUBLE) / least(sa.nf, sb.nf), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |r AS (SELECT src AS id, src AS comp FROM e
         |      UNION SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id),
         |c AS (SELECT id, min(comp) AS comp FROM r GROUP BY id),
         |sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp),
         |kept AS (
         |  SELECT c.id AS doc_id, s.cluster_size
         |  FROM c JOIN sizes s ON c.comp = s.comp WHERE c.id = c.comp)
         |SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM c)
         |UNION ALL
         |SELECT doc_id, cluster_size FROM kept""".stripMargin),
    Entry("q_anti_join", (s, d) => graft.operators.Analytics.qOrdersNoLineitem(s, d),
      // NOT EXISTS via LEFT ANTI: orders that never shipped anything
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  MIN(o_orderkey) AS min_orderkey
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |GROUP BY 1""".stripMargin),
    Entry("q_event_sessionize", (s, d) => graft.operators.Analytics.sessionize(s, d),
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |)
        |SELECT user_id, ts, event_type,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM s""".stripMargin),
    // Markov transition matrix: adjacent event-type pairs per user
    Entry("q_event_transitions", (s, d) => graft.operators.Analytics.eventTransitions(s, d),
      // transition matrix: (ts, event_id) totally orders each user
      // stream; exact counts, one IEEE division per (src, dst) row
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type FROM events
        |), tr AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS src,
        |         event_type AS dst
        |  FROM ev
        |), c AS (
        |  SELECT src, dst, COUNT(*) AS n FROM tr
        |  WHERE src IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src, dst, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
        |FROM c""".stripMargin),
    // top-10 first-5-event paths: bounded per-user collect, two-phase
    // top-k (TakeOrderedAndProject), ties broken on the path string
    Entry("q_path_topk", (s, d) => graft.operators.Analytics.pathTopK(s, d),
      // top-10 first-5-event paths: same (ts, event_id) total order,
      // ORDER BY (n_users DESC, path) LIMIT 10 — a deterministic cut
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type FROM events
        |), r AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |  FROM ev
        |), p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 10""".stripMargin),
    // last-touch attribution: one running-frame window pass, purchases
    // credited to the latest preceding non-purchase event
    Entry("q_attribution", (s, d) => graft.operators.Analytics.attribution(s, d),
      // last-touch attribution: running last-non-purchase frame under
      // the same total order; exact-decimal revenue cast once
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type, value
        |  FROM events
        |), tc AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev
        |)
        |SELECT touch, COUNT(*) AS n_conv,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM tc WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY touch""".stripMargin),
    // RFM segmentation: customer-grain aggregate + one-row broadcast
    // quartile boundaries — never an ntile through a single partition
    Entry("q_rfm", (s, d) => graft.operators.Analytics.rfm(s, d),
      // RFM: one customer-grain pass + ONE bounded boundary aggregate;
      // recency scored on the last_day axis via the linear-transform
      // identity (reversed comparisons), quantile_cont + round-6
      // quartiles (the ts_quantile parity recipe), scores as
      // boolean-to-int sums on bit-identical operands
      """WITH o AS (
        |  SELECT o_custkey AS cust_key, epoch_ns(o_orderdate) AS ns,
        |         o_totalprice
        |  FROM orders
        |), c AS (
        |  SELECT cust_key, MAX(ns) // 86400000000000 AS last_day,
        |         COUNT(*) AS frequency,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |           AS monetary
        |  FROM o GROUP BY 1
        |), b AS (
        |  SELECT MAX(last_day) AS now_day,
        |         round(quantile_cont(CAST(last_day AS DOUBLE), 0.25), 6) AS l25,
        |         round(quantile_cont(CAST(last_day AS DOUBLE), 0.5), 6) AS l50,
        |         round(quantile_cont(CAST(last_day AS DOUBLE), 0.75), 6) AS l75,
        |         round(quantile_cont(CAST(frequency AS DOUBLE), 0.25), 6) AS f25,
        |         round(quantile_cont(CAST(frequency AS DOUBLE), 0.5), 6) AS f50,
        |         round(quantile_cont(CAST(frequency AS DOUBLE), 0.75), 6) AS f75,
        |         round(quantile_cont(monetary, 0.25), 6) AS m25,
        |         round(quantile_cont(monetary, 0.5), 6) AS m50,
        |         round(quantile_cont(monetary, 0.75), 6) AS m75
        |  FROM c
        |), s AS (
        |  SELECT cust_key, now_day - last_day AS recency_days,
        |         frequency, monetary,
        |    1 + CAST(CAST(last_day AS DOUBLE) < l75 AS INT)
        |      + CAST(CAST(last_day AS DOUBLE) < l50 AS INT)
        |      + CAST(CAST(last_day AS DOUBLE) < l25 AS INT) AS r_score,
        |    1 + CAST(CAST(frequency AS DOUBLE) > f25 AS INT)
        |      + CAST(CAST(frequency AS DOUBLE) > f50 AS INT)
        |      + CAST(CAST(frequency AS DOUBLE) > f75 AS INT) AS f_score,
        |    1 + CAST(CAST(monetary AS DOUBLE) > m25 AS INT)
        |      + CAST(CAST(monetary AS DOUBLE) > m50 AS INT)
        |      + CAST(CAST(monetary AS DOUBLE) > m75 AS INT) AS m_score
        |  FROM c CROSS JOIN b
        |)
        |SELECT cust_key, recency_days, frequency, monetary,
        |       r_score, f_score, m_score,
        |       r_score * 100 + f_score * 10 + m_score AS segment
        |FROM s""".stripMargin),
    // per-cohort median time-to-convert: equi-join + post-filter
    // (never a range join), percentile parity recipe on the median
    Entry("q_funnel_time", (s, d) => graft.operators.Analytics.funnelTime(s, d),
      // funnel latency: first-signup per user, earliest at-or-after
      // purchase via equi-join + filter, int64 second gaps, cohort
      // median through the quantile_cont + round-6 parity recipe
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, MIN(ts) AS from_ts FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, s.from_ts, MIN(e.ts) AS to_ts
        |  FROM ev e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.from_ts
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT (from_ts // 86400000000000) * 86400000000000 AS cohort_day,
        |         (to_ts - from_ts) // 1000000000 AS delta_s
        |  FROM c
        |)
        |SELECT cohort_day, COUNT(*) AS n_conv,
        |       round(quantile_cont(CAST(delta_s AS DOUBLE), 0.5), 6) AS median_s
        |FROM d GROUP BY 1""".stripMargin),
    // market-basket pair mining: co-partitioned self-join, bounded
    // per-order fan-out, two-phase top-k
    Entry("q_copurchase", (s, d) => graft.operators.Analytics.copurchase(s, d),
      // co-purchase pairs: per-order DISTINCT item set, a < b self-join,
      // deterministic (n desc, pair) cut
      """WITH i AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), pr AS (
        |  SELECT a.p AS part_a, b.p AS part_b
        |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
        |)
        |SELECT part_a, part_b, COUNT(*) AS n_orders
        |FROM pr GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin),
    // lift-scored association rules: int64 products, one IEEE division
    // per measure, min-support floor
    Entry("q_copurchase_lift", (s, d) =>
      graft.operators.Analytics.copurchaseLift(s, d),
      // lift: (n_ab * N) / (n_a * n_b) as exact int64 products and ONE
      // IEEE division per measure — never pre-divided probabilities
      """WITH i AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), t AS (SELECT COUNT(DISTINCT o) AS n_total FROM i),
        |m AS (SELECT p, COUNT(*) AS n FROM i GROUP BY p),
        |pr AS (
        |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
        |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |)
        |SELECT pr.part_a, pr.part_b, pr.n_ab,
        |  CAST(pr.n_ab * t.n_total AS DOUBLE)
        |    / CAST(ma.n * mb.n AS DOUBLE) AS lift,
        |  CAST(pr.n_ab AS DOUBLE) / CAST(ma.n AS DOUBLE) AS confidence
        |FROM pr
        |JOIN m ma ON ma.p = pr.part_a
        |JOIN m mb ON mb.p = pr.part_b
        |CROSS JOIN t
        |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin),
    // growth accounting: DAU split into first-seen vs returning —
    // days × users frames, never events; integer counts end to end
    Entry("q_new_vs_returning", (s, d) =>
      graft.operators.Analytics.newVsReturning(s, d),
      // growth accounting: distinct (user, day) frame, first-seen day
      // per user joined back, one conditional integer aggregate
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts FROM events
        |), du AS (
        |  SELECT DISTINCT user_id,
        |         (ts // 86400000000000) * 86400000000000 AS day
        |  FROM ev
        |), f AS (
        |  SELECT user_id, MIN(day) AS first_day FROM du GROUP BY 1
        |)
        |SELECT du.day, COUNT(*) AS n_active,
        |  CAST(SUM(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  COUNT(*) - CAST(SUM(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning
        |FROM du JOIN f ON du.user_id = f.user_id
        |GROUP BY du.day""".stripMargin),
    // streamed twin: per-user last-event state carries transitions
    // across micro-batch boundaries; same oracle as the batch matrix
    Entry("q_event_transitions_streamed", (s, d) =>
      graft.streaming.StreamingTransitions.streamedTransitions(s, d),
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type FROM events
        |), tr AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS src,
        |         event_type AS dst
        |  FROM ev
        |), c AS (
        |  SELECT src, dst, COUNT(*) AS n FROM tr
        |  WHERE src IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src, dst, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
        |FROM c""".stripMargin),
    // streamed twin: per-user last-touch state credits purchases whose
    // interaction landed in an earlier micro-batch; same oracle as the
    // batch attribution entry
    Entry("q_attribution_streamed", (s, d) =>
      graft.streaming.StreamingAttribution.streamedAttribution(s, d),
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type, value
        |  FROM events
        |), tc AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev
        |)
        |SELECT touch, COUNT(*) AS n_conv,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM tc WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY touch""".stripMargin),
    // the same gap-sessionization from the STATEFUL streaming path,
    // replayed as four TIME-ORDERED micro-batches so sessions genuinely
    // span per-user state across batch boundaries; matching the batch
    // entry's window-SQL oracle proves the cross-batch fold — the
    // seventh streamed driver entry
    Entry("q_event_sessionize_streamed", (s, d) =>
      graft.streaming.StatefulSessionize.streamedSessions(s, d),
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |)
        |SELECT user_id, ts, event_type,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM s""".stripMargin),
    Entry("q_window_running", (s, d) => graft.operators.Analytics.runningTotal(s, d),
      // cumulative frame per customer; DECIMAL running sum cast once at
      // the end; o_orderkey tiebreaks same-day orders on both engines
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS running_spend,
        |  COUNT(*) OVER w AS running_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    Entry("q_funnel", (s, d) => graft.operators.Analytics.funnel(s, d),
      // signup→purchase conversion per signup-day cohort; conversion
      // counted once per user within 7 days of the FIRST signup
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, min(ts) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1
        |), c AS (
        |  SELECT DISTINCT e.user_id FROM ev e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts >= s.t0 AND e.ts <= s.t0 + 604800000000000
        |)
        |SELECT (t0 // 86400000000000) * 86400000000000 AS cohort_day,
        |  COUNT(*) AS n_signups,
        |  CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM s LEFT JOIN c ON s.user_id = c.user_id
        |GROUP BY 1""".stripMargin),
    Entry("q_retention", (s, d) => graft.operators.Analytics.retention(s, d),
      // retention triangle: distinct users active k weeks after their
      // first signup, per signup-week cohort (k < 8)
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, min(ts) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1
        |), hits AS (
        |  SELECT DISTINCT (s.t0 // 604800000000000) * 604800000000000 AS cohort_week,
        |    (e.ts - s.t0) // 604800000000000 AS week_offset, e.user_id
        |  FROM ev e JOIN s USING (user_id)
        |  WHERE e.ts >= s.t0 AND (e.ts - s.t0) // 604800000000000 < 8
        |)
        |SELECT cohort_week, week_offset, COUNT(*) AS n_users
        |FROM hits GROUP BY 1, 2""".stripMargin),
    Entry("q_session_stats", (s, d) => graft.operators.Analytics.sessionStats(s, d),
      // per-day session metrics over the sessionize chain: sessions
      // starting that day, their event totals and mean duration
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |), sess AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
        |    ts
        |  FROM s
        |), per AS (
        |  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts,
        |    COUNT(*) AS n_ev
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT (start_ts // 86400000000000) * 86400000000000 AS day,
        |  COUNT(*) AS n_sessions,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(SUM(n_ev) AS DOUBLE) / COUNT(*) AS avg_events,
        |  CAST(SUM(end_ts - start_ts) AS DOUBLE) / COUNT(*) AS avg_dur_ns
        |FROM per GROUP BY 1""".stripMargin),
    Entry("q_active_users", (s, d) => graft.operators.Analytics.activeUsers(s, d),
      // DAU + exact trailing-7d WAU from the compact (day, user) frame;
      // each day-user row covers its next 7 days (bounded expansion)
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts FROM events
        |), du AS (
        |  SELECT DISTINCT (ts // 86400000000000) * 86400000000000 AS day, user_id
        |  FROM ev
        |), dau AS (
        |  SELECT day, COUNT(*) AS dau FROM du GROUP BY 1
        |), cov AS (
        |  SELECT DISTINCT du.day + g.k * 86400000000000 AS day, du.user_id
        |  FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) g
        |), wau AS (
        |  SELECT day, COUNT(*) AS wau FROM cov GROUP BY 1
        |)
        |SELECT d.day, d.dau, w.wau
        |FROM dau d JOIN wau w USING (day)""".stripMargin),
    // EXACT daily actives from the streaming path: streaming aggs
    // can't run count_distinct, so the stream dedups (day, user) with
    // watermark-bounded keyed state and the count becomes a plain
    // aggregate over the landing — the ninth streamed driver entry
    Entry("q_dau_streamed", (s, d) =>
      graft.streaming.StreamingActiveUsers.streamedDau(s, d),
      // exact streamed DAU: the dedup-then-count decomposition must
      // reproduce COUNT(DISTINCT user) per day
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts FROM events
        |), du AS (
        |  SELECT DISTINCT (ts // 86400000000000) * 86400000000000 AS day, user_id
        |  FROM ev
        |)
        |SELECT day, COUNT(*) AS dau FROM du GROUP BY 1""".stripMargin),
    Entry("q_funnel_steps", (s, d) => graft.operators.Analytics.funnelSteps(s, d),
      // ordered 3-step funnel: each step's FIRST instant strictly after
      // the previous step's, all within 7d of the first signup
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
        |), s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s1 AS (
        |  SELECT e.user_id, s0.t0, min(e.ts) AS t1
        |  FROM ev e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'view'
        |    AND e.ts > s0.t0 AND e.ts <= s0.t0 + 604800000000000
        |  GROUP BY 1, 2
        |), s2 AS (
        |  SELECT e.user_id, s1.t0, min(e.ts) AS t2
        |  FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts > s1.t1 AND e.ts <= s1.t0 + 604800000000000
        |  GROUP BY 1, 2
        |)
        |SELECT (t0 // 86400000000000) * 86400000000000 AS cohort_day,
        |  CAST(0 AS BIGINT) AS step_idx, 'signup' AS step, COUNT(*) AS n_users
        |FROM s0 GROUP BY 1
        |UNION ALL
        |SELECT (t0 // 86400000000000) * 86400000000000,
        |  CAST(1 AS BIGINT), 'view', COUNT(*) FROM s1 GROUP BY 1
        |UNION ALL
        |SELECT (t0 // 86400000000000) * 86400000000000,
        |  CAST(2 AS BIGINT), 'purchase', COUNT(*) FROM s2 GROUP BY 1""".stripMargin),
    Entry("q_session_window", (s, d) => graft.operators.Analytics.sessionWindows(s, d),
      // built-in session_window sessions re-derived from the lag chain:
      // one row per session, end = last event + gap
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s
        |)
        |SELECT user_id, min(ts) AS start_ts,
        |  max(ts) + 1800000000000 AS end_ts, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_id""".stripMargin),
    // sweep-line peak concurrent sessions per hour; the running sum is
    // split per-hour + hour-grain carry so no global window sees
    // session-grain rows
    Entry("q_concurrency", (s, d) => graft.operators.Analytics.concurrency(s, d),
      // sweep-line concurrency: the oracle runs the IDENTICAL local +
      // carry decomposition (per-hour running sum over distinct
      // (ts, delta) keys, hour-grain cumulative net), so the all-integer
      // peak pins by hash
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS ts FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |), sess AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
        |    ts
        |  FROM s
        |), per AS (
        |  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
        |  FROM sess GROUP BY 1, 2
        |), sweep AS (
        |  SELECT ts, delta, CAST(SUM(delta) AS BIGINT) AS d
        |  FROM (
        |    SELECT start_ts AS ts, 1 AS delta FROM per
        |    UNION ALL
        |    SELECT end_ts AS ts, -1 AS delta FROM per)
        |  GROUP BY 1, 2
        |), loc AS (
        |  SELECT (ts // 3600000000000) * 3600000000000 AS hour, delta, d,
        |    SUM(d) OVER (PARTITION BY ts // 3600000000000
        |      ORDER BY ts, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM sweep
        |), h AS (
        |  SELECT hour,
        |    CAST(MAX(run) AS BIGINT) AS local_max,
        |    CAST(SUM(d) AS BIGINT) AS net,
        |    CAST(SUM(CASE WHEN delta = 1 THEN d ELSE 0 END) AS BIGINT) AS n_starts,
        |    CAST(-SUM(CASE WHEN delta = -1 THEN d ELSE 0 END) AS BIGINT) AS n_ends
        |  FROM loc GROUP BY 1
        |)
        |SELECT hour, n_starts, n_ends,
        |  CAST(coalesce(SUM(net) OVER (ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + greatest(local_max, 0) AS BIGINT) AS max_concurrent
        |FROM h""".stripMargin),
    // Pareto deciles: DISTRIBUTED exact global rank (range partitions
    // + local row_number + parallelism-sized offset frame), decimal
    // spend end-to-end, shares as final divisions
    Entry("q_revenue_concentration", (s, d) =>
      graft.operators.Analytics.revenueConcentration(s, d),
      // Pareto deciles: the oracle ranks with ONE window (fine at oracle
      // scale); the engine's distributed rank must land the identical
      // total order — that equality is exactly what the hash checks
      """WITH s AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS spend
        |  FROM orders GROUP BY 1
        |), rk AS (
        |  SELECT spend,
        |    row_number() OVER (ORDER BY spend DESC, o_custkey) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM s
        |), d AS (
        |  SELECT CAST(((r - 1) * 10) // n AS BIGINT) AS decile, spend FROM rk
        |), t AS (SELECT SUM(spend) AS tot FROM s)
        |SELECT decile, COUNT(*) AS n_customers,
        |  CAST(SUM(spend) AS DOUBLE) AS spend,
        |  CAST(SUM(spend) AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  CAST(SUM(SUM(spend)) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(tot AS DOUBLE) AS cum_share
        |FROM d CROSS JOIN t GROUP BY decile, tot""".stripMargin),
    // cohort LTV curve: first-seen cohorts × age, decimal revenue
    // through the cumulative window, one division by cohort size
    Entry("q_cohort_ltv", (s, d) => graft.operators.Analytics.cohortLtv(s, d),
      // cohort LTV: first-seen cohorts × purchase age, decimal revenue
      // through the cumulative frame, one division by cohort size
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |         event_type, value
        |  FROM events
        |), c AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1
        |), cs AS (
        |  SELECT cohort_day, COUNT(*) AS n_users FROM c GROUP BY 1
        |), r AS (
        |  SELECT c.cohort_day, ev.day - c.cohort_day AS age_days,
        |         SUM(CAST(value AS DECIMAL(28,6))) AS rev
        |  FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT r.cohort_day, age_days, n_users,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(SUM(rev) OVER (PARTITION BY r.cohort_day ORDER BY age_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / n_users AS cum_ltv
        |FROM r JOIN cs ON r.cohort_day = cs.cohort_day""".stripMargin),
    // two-proportion experiment readout: exact counts → fixed-order
    // IEEE chain for rates and the pooled z; one row out
    Entry("q_ab_test", (s, d) => graft.operators.Analytics.abTest(s, d),
      """WITH u AS (
        |  SELECT user_id % 2 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u
        |)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
        |  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
        |  CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |         * (1.0 / n_a + 1.0 / n_b)) = 0 THEN NULL
        |       ELSE (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |           * (1.0 / n_a + 1.0 / n_b)) + 0.0 END AS z_stat
        |FROM a""".stripMargin),
    // Welch's t on purchase value per variant: exact decimal Σv/Σv²
    // chains, fixed-order IEEE formula, one row out
    Entry("q_ab_test_value", (s, d) =>
      graft.operators.Analytics.abTestValue(s, d),
      """WITH p AS (
        |  SELECT user_id % 2 AS variant, value FROM events
        |  WHERE event_type = 'purchase'
        |), a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS s_a,
        |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sq_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS s_b,
        |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sq_b
        |  FROM p
        |)
        |SELECT n_a,
        |  CASE WHEN n_a < 1 THEN NULL ELSE round(s_a / n_a, 6) END AS mean_a,
        |  CASE WHEN n_a < 2 THEN NULL
        |       ELSE round((sq_a - s_a * s_a / n_a) / (n_a - 1), 6) END AS var_a,
        |  n_b,
        |  CASE WHEN n_b < 1 THEN NULL ELSE round(s_b / n_b, 6) END AS mean_b,
        |  CASE WHEN n_b < 2 THEN NULL
        |       ELSE round((sq_b - s_b * s_b / n_b) / (n_b - 1), 6) END AS var_b,
        |  CASE WHEN n_a < 2 OR n_b < 2
        |         OR sqrt(((sq_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
        |               + ((sq_b - s_b * s_b / n_b) / (n_b - 1)) / n_b) = 0
        |       THEN NULL
        |       ELSE round((s_a / n_a - s_b / n_b)
        |         / sqrt(((sq_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
        |              + ((sq_b - s_b * s_b / n_b) / (n_b - 1)) / n_b), 6) + 0.0
        |  END AS t_stat
        |FROM a""".stripMargin),
    // Gini of customer spend on the SAME distributed rank: exact
    // decimal rank-weighted sum, round-6 final chain
    Entry("q_gini", (s, d) => graft.operators.Analytics.gini(s, d),
      // Gini by the rank-weighted identity over the single-window rank;
      // exact decimal product-sum, round-6 final chain (20av boundary)
      """WITH s AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS spend
        |  FROM orders GROUP BY 1
        |), rk AS (
        |  SELECT spend,
        |    row_number() OVER (ORDER BY spend DESC, o_custkey) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM s
        |), a AS (
        |  SELECT MAX(n) AS n,
        |    SUM(CAST(spend AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(spend AS DECIMAL(18,6)) * CAST(n - r + 1 AS DECIMAL(10,0))) AS six
        |  FROM rk
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS DOUBLE) AS total_spend,
        |  round(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin),
    Entry("q_pivot", (s, d) => graft.operators.Analytics.pivotDaily(s, d),
      // day × event-type PIVOT matrix: one conditional-count aggregate
      // per declared type; absent combinations are 0, not NULL
      """WITH ev AS (
        |  SELECT epoch_ns(ts) AS ts, event_type FROM events
        |)
        |SELECT (ts // 86400000000000) * 86400000000000 AS day,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        |FROM ev GROUP BY 1""".stripMargin),

    // ---- Text analysis (documents) ----
    Entry("text_tokens", (s, d) => graft.operators.TextAnalysis.tokens(s, d),
      """SELECT doc_id,
        | CAST(length(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_ws_tokens,
        | CAST(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents""".stripMargin),
    Entry("text_len_hist", (s, d) => graft.operators.TextAnalysis.lenHist(s, d),
      // sequence-length histogram: docs and token totals per token bin
      """WITH d AS (
        |  SELECT CAST(length(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tok
        |  FROM documents
        |)
        |SELECT (n_tok // 32) * 32 AS bin_lo,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1""".stripMargin),
    Entry("text_langid", (s, d) => graft.operators.TextAnalysis.langid(s, d),
      TextLangidSql),
    Entry("text_langid_eval", (s, d) => graft.operators.TextAnalysis.langidEval(s, d),
      // confusion matrix vs the corpus ground-truth lang column
      s"""SELECT d.lang, p.lang_pred, COUNT(*) AS n
         |FROM ($TextLangidSql) p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),
    Entry("text_quality", (s, d) => graft.operators.TextAnalysis.quality(s, d),
      TextQualitySql),
    Entry("text_quality_rank", (s, d) => graft.operators.TextAnalysis.qualityRank(s, d),
      // percentile rank of the quality score: PERCENT_RANK() is exactly
      // the histogram formulation's n_below/(N-1) with ties sharing a
      // rank, so the window oracle pins the no-global-sort path
      s"""WITH q AS (
         |$TextQualitySql
         |)
         |SELECT doc_id, quality_score,
         |  percent_rank() OVER (ORDER BY quality_score) AS pct_rank
         |FROM q""".stripMargin),
    Entry("text_fingerprint", (s, d) => graft.operators.TextAnalysis.fingerprint(s, d),
      """SELECT doc_id,
        | md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
        |FROM documents""".stripMargin),
    Entry("text_repetition", (s, d) => graft.operators.TextAnalysis.repetition(s, d),
      TextRepetitionSql),
    Entry("text_decontaminate", (s, d) => graft.operators.TextAnalysis.decontaminate(s, d),
      // same gram construction as the graft_word_shingles kernel: split on
      // single space KEEPING empties, windows of 3 (whole list when
      // shorter), per-document distinct
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(wl) - 2, 1)),
        |    i -> array_to_string(list_slice(wl, i, i + 2), ' ')))) AS gram
        |  FROM w
        |), ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_shared_grams
        |FROM g JOIN ev USING (gram)
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin),
    // the distributed-Bloom membership variant: the filter is a
    // (word_id, bit_or word) frame, probes are equi-joins; the oracle
    // pins the zero-false-negative implication per contaminated doc
    Entry("text_decontaminate_bloom", (s, d) =>
      graft.operators.TextAnalysis.bloomDecontaminate(s, d),
      // the Bloom variant: same exact contamination chain, plus the
      // TRUE-pinned implication — a Bloom filter CANNOT false-negative,
      // so every exactly-shared gram must be bloom-positive; any
      // build/probe drift (m mismatch, seed skew, word packing) flips
      // bloom_covers and fails the hash (the quantile-band gate pattern)
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(wl) - 2, 1)),
        |    i -> array_to_string(list_slice(wl, i, i + 2), ' ')))) AS gram
        |  FROM w
        |), ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_shared_grams, TRUE AS bloom_covers
        |FROM g JOIN ev USING (gram)
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin, Set(Tag.Validation, Tag.NoiseBand)),
    // eval-vs-train leakage at the NEAR-dup grain (paraphrase leakage
    // the exact-shingle tests miss): role-filtered Jaccard pairs
    Entry("text_decontaminate_neardup", (s, d) =>
      graft.operators.TextAnalysis.decontaminateNearDup(s, d),
      // cross-role near-dup leakage: the SAME pair query (shared SQL
      // body), role-filtered and re-labeled eval/train
      s"""WITH pr AS (
        |$NgramJaccardSql
        |)
        |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS eval_doc,
        |       CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS train_doc,
        |       jaccard
        |FROM pr WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)""".stripMargin),
    Entry("text_filter_chain", (s, d) => graft.operators.TextAnalysis.filterChain(s, d),
      // the filter chain composes the three signal queries verbatim as
      // CTEs — thresholds compare the same ROUNDED columns both engines
      // emit, so the kept set is boundary-stable
      s"""WITH q AS ($TextQualitySql),
         |r AS ($TextRepetitionSql),
         |l AS ($TextLangidSql)
         |SELECT q.doc_id, q.quality_score, r.top_bigram_frac,
         |       r.dup_trigram_frac, r.distinct_word_frac, l.lang_pred
         |FROM q JOIN r USING (doc_id) JOIN l USING (doc_id)
         |WHERE q.quality_score >= 0.65 AND r.top_bigram_frac <= 0.05
         |  AND r.dup_trigram_frac <= 0.05 AND r.distinct_word_frac >= 0.4
         |  AND l.lang_pred = 'en'""".stripMargin),
    Entry("text_pii_scrub", (s, d) => graft.operators.TextAnalysis.piiScrub(s, d),
      // PII scrub: the corpus is digit-free, so PII is PLANTED from
      // doc_id with the same derivation on both engines; counts are on
      // the pre-scrub text, the hash on the email→phone→ip scrub chain.
      // Patterns stay in the Java-regex ∩ RE2 common subset.
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or admin-'
        |         || CAST(doc_id AS VARCHAR) || '@mail.test.org call +1-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\+\d[\d-]{6,}\d')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d[\d-]{6,}\d', '<PHONE>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS scrub_hash
        |FROM aug""".stripMargin),
    Entry("text_vocab_topk", (s, d) => graft.operators.TextAnalysis.vocabTopK(s, d),
      // vocabulary: corpus word-count with a (cnt desc, token) total
      // order so the top-k cut is deterministic on both engines
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin),
    // the same top-k vocabulary answered from the STATEFUL streaming
    // path's Update-mode changelog (flatMapGroupsWithState running
    // counts, four micro-batches, batch-id-staged): matching
    // text_vocab_topk's oracle proves the cross-batch state fold
    // exact — the fifth streamed driver entry
    Entry("text_vocab_streamed", (s, d) =>
      graft.streaming.StreamingVocab.streamedVocabTopK(s, d),
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin),
    Entry("text_doc_freq", (s, d) => graft.operators.TextAnalysis.docFreq(s, d),
      // corpus-frequency commonness: everything exact BIGINT until ONE
      // final IEEE chain (Σcnt / total) / n_tokens — identical op order
      // on both engines, no logarithms in the contract
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
        |v AS (SELECT token, COUNT(*) AS cnt FROM tt GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM tt)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(cnt) AS BIGINT) AS tf_sum,
        |  CAST(SUM(cnt) AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS commonness
        |FROM tt JOIN v USING (token)
        |GROUP BY doc_id""".stripMargin),
    // corpus-bigram LM cohesion: ratio-of-sums conditional probability
    Entry("text_bigram_lm", (s, d) => graft.operators.TextAnalysis.bigramLm(s, d),
      // bigram-LM cohesion: ratio-of-sums (exact BIGINT → one IEEE
      // division) — a mean of per-bigram quotients would be summation-
      // order-dependent and never hash-match; aligned unnests zip w1/w2
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i + 1])) AS w2
        |  FROM t WHERE len(l) > 1
        |), uni AS (SELECT unnest(l) AS token FROM t),
        |v1 AS (SELECT token, COUNT(*) AS c1 FROM uni GROUP BY 1),
        |v2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(c12) AS BIGINT) AS joint_sum,
        |  CAST(SUM(c1) AS BIGINT) AS cond_sum,
        |  CAST(SUM(c12) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS cohesion
        |FROM bg JOIN v2 USING (w1, w2) JOIN v1 ON bg.w1 = v1.token
        |GROUP BY bg.doc_id""".stripMargin),
    // keyword extraction: df-discounted top-5 terms per doc (linear idf)
    Entry("text_top_terms", (s, d) => graft.operators.TextAnalysis.topTerms(s, d),
      // top terms: linear idf (integers → one division → one multiply)
      // — a log idf would ride libm ln, which is not correctly rounded
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tt) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, df, score, rnk FROM (
        |  SELECT doc_id, token, tf, df,
        |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
        |        token) AS rnk
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |WHERE rnk <= 5""".stripMargin),
    Entry("text_chunk_dedup", (s, d) => graft.operators.TextAnalysis.chunkDedup(s, d),
      // fixed-20-token chunk dedup: corpus-first occurrence survives
      // (total order (doc_id, pos)); boilerplate planted on doc_id%5=0
      // chunk-0-aligned so the dedup fires across documents. Aligned
      // unnests zip pos with chunk; md5 of the ORDER BY pos reassembly
      // pins the surviving text, COALESCE('') matches Spark's empty
      // array_join when a doc keeps nothing.
      s"""WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN '${graft.operators.TextAnalysis.ChunkDedupBoiler} ' || text
        |    ELSE text END AS text FROM documents
        |), w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM aug),
        |c AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, (len(wl) + 19) // 20 - 1)) AS pos,
        |    unnest(list_transform(generate_series(0, (len(wl) + 19) // 20 - 1),
        |      i -> array_to_string(list_slice(wl, i * 20 + 1, i * 20 + 20), ' '))) AS chunk
        |  FROM w
        |), k AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1 AS kept
        |  FROM c)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY pos), ''))
        |    AS kept_hash
        |FROM k GROUP BY doc_id""".stripMargin),
    // RAG chunking: overlapping token-window boundaries as metadata,
    // int64 off the whitespace-token contract
    Entry("text_chunk_windows", (s, d) =>
      graft.operators.TextAnalysis.chunkWindows(s, d),
      // chunk windows: the identical token count, integer chunk count,
      // inclusive generate_series fan-out, int64 boundary arithmetic
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 20 THEN CAST(1 AS BIGINT)
        |         ELSE (n - 20 + 10 - 1) // 10 + 1 END AS n_chunks
        |  FROM t
        |), g AS (
        |  SELECT doc_id, n,
        |         unnest(generate_series(0, n_chunks - 1)) AS i
        |  FROM c
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 10 AS BIGINT) AS tok_start,
        |  least(CAST(i * 10 + 20 AS BIGINT), n) AS tok_end
        |FROM g""".stripMargin),
    Entry("text_dup_ngrams", (s, d) => graft.operators.TextAnalysis.dupNgrams(s, d),
      // duplicated-3-gram fraction: gram construction identical to the
      // text_decontaminate oracle (windows of 3, whole list when
      // shorter) but keeping INSTANCES; everything integer until the one
      // final IEEE division
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(wl) - 2, 1)),
        |    i -> array_to_string(list_slice(wl, i, i + 2), ' '))) AS gram
        |  FROM w
        |), v AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        |FROM g JOIN v USING (gram)
        |GROUP BY doc_id""".stripMargin, Set(Tag.NoiseBand)),
    // the trio's SHARED UPSTREAM as its own gated contract: the
    // position-grain gram-instance frame a substring-dedup pipeline
    // materializes once and fans out from (r10 verdict item 6)
    Entry("text_gram_instances", (s, d) =>
      graft.operators.TextAnalysis.gramInstances(s, d),
      // the shared gram-instance frame itself: same window-of-3
      // construction as the consumers' oracles, kept at (doc_id, start,
      // covered end, gram text) grain — all integers + strings, hash-exact
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS i,
        |  CAST(least(i + 2, len(wl)) AS BIGINT) AS end_w,
        |  array_to_string(list_slice(wl, i, i + 2), ' ') AS gram
        |FROM w, unnest(generate_series(1, greatest(len(wl) - 2, 1))) AS t(i)""".stripMargin),
    // span grain: maximal merged corpus-duplicated 3-gram intervals —
    // the rows a substring-dedup rewrite pass would cut
    Entry("text_dedup_spans", (s, d) =>
      graft.operators.TextAnalysis.dedupSpans(s, d),
      // gaps-and-islands merge of duplicated-gram coverage intervals:
      // both engines run the identical two-window recipe (running max
      // covered end → island flag → running island id) over all-integer
      // positions, so the hash pins the merge exactly
      s"""WITH $TextSpanCtes
        |SELECT doc_id, span_id, MIN(i) AS start_word,
        |  MAX(end_w) AS end_word,
        |  MAX(end_w) - MIN(i) + 1 AS span_words
        |FROM isl GROUP BY doc_id, span_id""".stripMargin),
    // the incremental-maintenance posture at the substring grain: the
    // delta probes a persisted base gram-vocabulary (counts, so a
    // base-unique gram the delta re-delivers goes duplicated), never
    // re-explodes the corpus
    Entry("text_dedup_spans_incremental", (s, d) =>
      graft.operators.TextAnalysis.dedupSpansIncremental(s, d),
      // the incremental probe's verdict is identical to re-running the
      // combined-corpus gram census restricted to delta docs — which is
      // exactly what this oracle does from scratch (base counts + delta
      // counts, dup iff total > 1, then the shared islands recipe); the
      // hash match proves the persisted-index path lost nothing
      s"""WITH $TextIncSpanCtes
        |SELECT doc_id, span_id, MIN(i) AS start_word,
        |  MAX(end_w) AS end_word,
        |  MAX(end_w) - MIN(i) + 1 AS span_words
        |FROM isl GROUP BY doc_id, span_id""".stripMargin),
    // the 22nd streamed entry: gram counts maintained as cross-batch
    // flatMapGroupsWithState state, delta spans answered from the
    // compacted state — the daily maintenance loop streaming-native
    Entry("text_dedup_spans_streamed", (s, d) =>
      graft.streaming.StreamingVocab.streamedDeltaSpans(s, d),
      // IDENTICAL oracle for the streamed variant: the compacted
      // cross-batch gram state must reproduce the from-scratch census
      // exactly (the text_vocab_streamed precedent at the span grain)
      s"""WITH $TextIncSpanCtes
        |SELECT doc_id, span_id, MIN(i) AS start_word,
        |  MAX(end_w) AS end_word,
        |  MAX(end_w) - MIN(i) + 1 AS span_words
        |FROM isl GROUP BY doc_id, span_id""".stripMargin),
    // end-to-end incremental substring maintenance: delta docs'
    // cleaned texts off the incremental spans
    Entry("text_dedup_rewrite_incremental", (s, d) =>
      graft.operators.TextAnalysis.dedupRewriteIncremental(s, d),
      // the incremental rewrite: delta words cut by the incremental
      // spans — same NOT EXISTS range probe + ordered string_agg tail as
      // text_dedup_rewrite, over delta docs only
      s"""WITH $TextIncSpanCtes, spans AS (
        |  SELECT doc_id, MIN(i) AS start_word, MAX(end_w) AS end_word
        |  FROM isl GROUP BY doc_id, span_id
        |), dw AS (
        |  SELECT doc_id, wl FROM w WHERE doc_id % 10 = 0
        |), words AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, wl[i] AS word
        |  FROM dw, unnest(generate_series(1, len(wl))) AS t(i)
        |), kept AS (
        |  SELECT w2.doc_id, w2.pos, w2.word FROM words w2
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = w2.doc_id
        |      AND w2.pos BETWEEN s.start_word AND s.end_word)
        |)
        |SELECT b.doc_id, CAST(len(b.wl) AS BIGINT) AS n_words,
        |  CAST(COUNT(k.pos) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(k.word, ' ' ORDER BY k.pos), '') AS clean_text
        |FROM dw b LEFT JOIN kept k ON b.doc_id = k.doc_id
        |GROUP BY b.doc_id, len(b.wl)""".stripMargin),
    // the rewrite over those spans: covered words cut, survivors
    // re-joined in position order — the corpus substring dedup ships
    Entry("text_dedup_rewrite", (s, d) =>
      graft.operators.TextAnalysis.dedupRewrite(s, d),
      // the rewrite pass: positions inside any merged span are cut, the
      // survivors string_agg back in position order; '' (never a dropped
      // row) for fully-boilerplate docs
      s"""WITH $TextSpanCtes, spans AS (
        |  SELECT doc_id, MIN(i) AS start_word, MAX(end_w) AS end_word
        |  FROM isl GROUP BY doc_id, span_id
        |), words AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, wl[i] AS word
        |  FROM w, unnest(generate_series(1, len(wl))) AS t(i)
        |), kept AS (
        |  SELECT w2.doc_id, w2.pos, w2.word FROM words w2
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = w2.doc_id
        |      AND w2.pos BETWEEN s.start_word AND s.end_word)
        |)
        |SELECT b.doc_id, CAST(len(b.wl) AS BIGINT) AS n_words,
        |  CAST(COUNT(k.pos) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(k.word, ' ' ORDER BY k.pos), '') AS clean_text
        |FROM w b LEFT JOIN kept k ON b.doc_id = k.doc_id
        |GROUP BY b.doc_id, len(b.wl)""".stripMargin),

    // ---- Deduplication (documents) ----
    Entry("dedup_exact", (s, d) => graft.operators.Dedup.exact(s, d),
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       COUNT(*) AS n_docs, MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin),
    // the minhash routing census as a gated observability read
    Entry("dedup_exact_census", (s, d) =>
      graft.operators.Dedup.exactCensus(s, d),
      // the census over those groups; SUM stays HUGEINT in DuckDB unless
      // cast — the q12/q_concurrency lesson, applied at authoring time
      """WITH g AS (
        |  SELECT COUNT(*) AS c FROM documents
        |  GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |)
        |SELECT CAST(MAX(c) AS BIGINT) AS max_group,
        |  COUNT(*) AS n_groups, CAST(SUM(c) AS BIGINT) AS n_docs
        |FROM g""".stripMargin),
    // exact dedup through the STREAMING path: a landing zone with
    // planted duplicate arrivals is drained through a watermarked
    // dropDuplicatesWithinWatermark stream into batch-id-staged dirs;
    // one row per fingerprint with n_kept = 1 everywhere iff the keyed
    // state dropped every re-arrival and lost no original — the fourth
    // streamed driver entry
    Entry("dedup_exact_streamed", (s, d) =>
      graft.streaming.StreamingDedup.streamedFingerprints(s, d),
      // the streamed landing keeps exactly one copy per fingerprint: the
      // planted clones share their originals' texts, so the expected
      // surviving set is the corpus's distinct fingerprints with
      // n_kept = 1 — any lost original or surviving duplicate breaks the
      // hash
      """SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       CAST(1 AS BIGINT) AS n_kept
        |FROM documents""".stripMargin),
    Entry("dedup_minhash", (s, d) => graft.operators.Dedup.minhashLsh(s, d),
      s"SELECT doc_a, doc_b, jaccard FROM ${golden("dedup_minhash")}", Set(Tag.Golden)),
    // signature-agreement estimate vs exact jaccard per verified pair:
    // the LSH calibration read; true side re-derived in SQL
    Entry("dedup_minhash_calibration", (s, d) =>
      graft.operators.Dedup.minhashCalibration(s, d),
      // est + band ride the pinned golden; the TRUE jaccard re-derives
      // INDEPENDENTLY over the same word-3-shingle sets — the gate also
      // proves the native shingle/jaccard kernels match the relational
      // formulation
      s"""WITH g AS (
         |  SELECT doc_a, doc_b, jaccard_est
         |  FROM ${golden("dedup_minhash_calibration")}),
         |w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(wl) - 2, 1)),
         |    i -> array_to_string(list_slice(wl, i, i + 2), ' '))) AS s
         |  FROM w)
         |SELECT g.doc_a, g.doc_b,
         |  round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
         |    / (length(a.s) + length(b.s) - length(list_intersect(a.s, b.s))),
         |    6) AS jaccard,
         |  g.jaccard_est,
         |  (abs(g.jaccard_est -
         |     round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
         |       / (length(a.s) + length(b.s) - length(list_intersect(a.s, b.s))),
         |       6)) <= 0.35) AS within_band
         |FROM g JOIN sh a ON g.doc_a = a.doc_id
         |       JOIN sh b ON g.doc_b = b.doc_id""".stripMargin, Set(Tag.Golden)),
    // incremental posture: delta shard probes the persisted band index
    Entry("dedup_minhash_incremental", (s, d) =>
      graft.operators.Dedup.minhashIncremental(s, d),
      s"SELECT doc_a, doc_b, jaccard FROM ${golden("dedup_minhash_incremental")}", Set(Tag.Golden)),
    // embedding sibling: the banded self-join that dominates the full
    // run's 100x wall never forms — delta probes the persisted layout
    Entry("dedup_embedding_lsh_incremental", (s, d) =>
      graft.operators.Dedup.embeddingLshIncremental(s, d),
      s"SELECT vec_a, vec_b, cos FROM ${golden("dedup_embedding_lsh_incremental")}",
      Set(Tag.Golden)),
    Entry("dedup_simhash", (s, d) => graft.operators.Dedup.simhash(s, d),
      s"SELECT doc_id, simhash FROM ${golden("dedup_simhash")}", Set(Tag.Golden)),
    Entry("dedup_simhash_pairs", (s, d) => graft.operators.Dedup.simhashPairs(s, d),
      // DuckDB recomputes the 4×16-bit banding + Hamming verify over the
      // golden simhash values (the kernel itself is not re-creatable in
      // SQL; the banded-join SEMANTICS are, and that is what this checks)
      s"""WITH sh AS (
         |  SELECT doc_id, simhash FROM ${golden("dedup_simhash")})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | AND (((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
         |   OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
         |   OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
         |   OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    Entry("dedup_simhash_census", (s, d) =>
      graft.operators.Dedup.simhashCensusRead(s, d),
      // the routing census over the SAME golden hash values the pairs
      // oracle reads: max identical-hash group (the collapse gate),
      // distinct-hash count (the banding-width gate), corpus size.
      // CAST sums/maxes to BIGINT — DuckDB aggregates over BIGINT land
      // as HUGEINT and the driver hash gate is dtype-exact
      s"""WITH g AS (
         |  SELECT simhash, count(*) AS c
         |  FROM ${golden("dedup_simhash")}
         |  GROUP BY 1)
         |SELECT CAST(max(c) AS BIGINT) AS max_group,
         |       count(*) AS n_groups,
         |       CAST(sum(c) AS BIGINT) AS n_docs
         |FROM g""".stripMargin),
    Entry("dedup_ngram_jaccard", (s, d) => graft.operators.Dedup.ngramJaccard(s, d),
      NgramJaccardSql),
    Entry("dedup_containment", (s, d) => graft.operators.Dedup.containment(s, d),
      // posting-list containment: same word-3-shingle construction as
      // text_decontaminate, stop-gram df cut (<= 20), shared-gram counts
      // per pair, score = shared / min(|A|,|B|) over the post-cut sets;
      // threshold compares the ROUNDED score (boundary-stable)
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        |), g0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(wl) - 2, 1)),
        |    i -> array_to_string(list_slice(wl, i, i + 2), ' ')))) AS gram
        |  FROM w
        |), rare AS (SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) <= 20),
        |g AS (SELECT doc_id, gram FROM g0 JOIN rare USING (gram)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
        |sh AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, containment FROM (
        |  SELECT doc_a, doc_b, n_shared,
        |    round(CAST(n_shared AS DOUBLE)
        |      / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
        |  FROM sh JOIN sz sa ON sh.doc_a = sa.doc_id
        |          JOIN sz sb ON sh.doc_b = sb.doc_id)
        |WHERE containment >= 0.5""".stripMargin),
    Entry("dedup_embedding", (s, d) => graft.operators.Dedup.embeddingCosine(s, d),
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT vec_a, vec_b, cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(
        |      list_reduce(list_transform(list_zip(a.v, b.v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.35""".stripMargin),
    Entry("dedup_embedding_lsh", (s, d) => graft.operators.Dedup.embeddingNearDup(s, d),
      s"SELECT vec_a, vec_b, cos FROM ${golden("dedup_embedding_lsh")}", Set(Tag.Golden)),
    // SemDeDup: k-means blocks, intra-cluster cosine pruning
    Entry("dedup_semantic", (s, d) => graft.operators.Dedup.semantic(s, d),
      s"SELECT vec_id, list_id, keep FROM ${golden("dedup_semantic")}", Set(Tag.Golden)),
    Entry("dedup_cluster", (s, d) => graft.operators.Dedup.cluster(s, d),
      // transitive closure over the SAME pair set as dedup_ngram_jaccard:
      // min reachable id per node == component id (graph symmetrized)
      s"""$NgramClusterCtes
        |SELECT c.id AS doc_id, c.comp AS cluster_id,
        |       s.cluster_size, (c.id = c.comp) AS is_keeper
        |FROM c JOIN (SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp) s
        |  ON c.comp = s.comp""".stripMargin),
    // duplicate-cluster size census: the dashboard-sized distribution
    // an operator reads before trusting a dedup run's keep rate
    Entry("dedup_cluster_hist", (s, d) => graft.operators.Dedup.clusterSizeHist(s, d),
      // cluster-size census over the identical recursive closure
      s"""$NgramClusterCtes
        |SELECT cluster_size, COUNT(*) AS n_clusters
        |FROM (SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp)
        |GROUP BY 1""".stripMargin, Set(Tag.Validation)),
    // incremental exact dedup: the delta probes the persisted base
    // fingerprint index — O(delta), never O(corpus)
    Entry("dedup_exact_incremental", (s, d) =>
      graft.operators.Dedup.exactIncremental(s, d),
      // incremental exact: the identical planted re-delivery corpus and
      // md5 chain; base = ids not divisible by 10, delta probes it,
      // intra-delta keepers by min id
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |pl AS (
        |  SELECT a.doc_id, coalesce(b.text, a.text) AS text
        |  FROM d0 a LEFT JOIN d0 b ON b.doc_id =
        |    CASE WHEN a.doc_id % 100 = 90 THEN a.doc_id - 50
        |         WHEN a.doc_id % 7 = 3 THEN a.doc_id - 3 END
        |), f AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM pl
        |), d AS (SELECT * FROM f WHERE doc_id % 10 = 0),
        |b AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
        |k AS (SELECT fp, MIN(doc_id) AS keeper FROM d GROUP BY fp)
        |SELECT d.doc_id, (b.fp IS NOT NULL) AS in_base,
        |       (b.fp IS NULL AND d.doc_id = k.keeper) AS is_kept
        |FROM d LEFT JOIN b ON d.fp = b.fp
        |JOIN k ON d.fp = k.fp""".stripMargin),
    // incremental SimHash: delta bands probe the persisted hash index
    // (never self-joined); constant bit_count verify per candidate
    Entry("dedup_simhash_incremental", (s, d) =>
      graft.operators.Dedup.simhashIncremental(s, d),
      // the incremental probe re-derived IN DUCKDB over the pinned
      // hashes: same banding algebra, role-filtered to delta-involving
      // pairs — exactly delta×base ∪ delta×delta
      s"""WITH sh AS (
         |  SELECT doc_id, simhash FROM ${golden("dedup_simhash")})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | AND (((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
         |   OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
         |   OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
         |   OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)""".stripMargin),
    // dedup without losing the duplication signal: one keeper per
    // cluster carrying cluster size as a training weight; Σweight
    // equals the corpus row count by construction
    Entry("dedup_keepers_weighted", (s, d) =>
      graft.operators.Dedup.keepersWeighted(s, d),
      // weighted keepers: min-id keeper per component carries the
      // component size; unpaired docs are weight-1 keepers of themselves
      s"""$NgramClusterCtes
        |SELECT d.doc_id, CAST(1 AS BIGINT) AS weight
        |FROM documents d LEFT JOIN c ON c.id = d.doc_id
        |WHERE c.id IS NULL
        |UNION ALL
        |SELECT MIN(id) AS doc_id, COUNT(*) AS weight FROM c GROUP BY comp""".stripMargin),
    Entry("dedup_pipeline", (s, d) => graft.operators.Dedup.pipeline(s, d),
      s"SELECT doc_id, cluster_size FROM ${golden("dedup_pipeline")}", Set(Tag.Golden)),
    // the Lee et al. 2022 recipe end-to-end: exact keepers → substring
    // rewrite → quality of the REWRITTEN text, emptied docs dropped
    Entry("dedup_pipeline_substring", (s, d) =>
      graft.operators.Dedup.pipelineSubstring(s, d),
      // the Lee et al. substring pipeline composed from the GATED stage
      // oracles by string surgery (the dedup_yield precedent): exact
      // keeper census → TextSpanCtes re-pointed at the keeper corpus →
      // the rewrite tail → TextQualitySql re-pointed at clean_text;
      // emptied docs drop before the 0/0 a quality score over '' would
      // hit (the engines disagree on NaN-vs-NULL there by design)
      s"""WITH k AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
        |), kd AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN k USING (doc_id)
        |), ${TextSpanCtes.replace("FROM documents", "FROM kd")}, spans AS (
        |  SELECT doc_id, MIN(i) AS start_word, MAX(end_w) AS end_word
        |  FROM isl GROUP BY doc_id, span_id
        |), words AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, wl[i] AS word
        |  FROM w, unnest(generate_series(1, len(wl))) AS t(i)
        |), kept AS (
        |  SELECT w2.doc_id, w2.pos, w2.word FROM words w2
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = w2.doc_id
        |      AND w2.pos BETWEEN s.start_word AND s.end_word)
        |), rw AS (
        |  SELECT b.doc_id, CAST(len(b.wl) AS BIGINT) AS n_words,
        |    CAST(COUNT(k2.pos) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(k2.word, ' ' ORDER BY k2.pos), '') AS clean_text
        |  FROM w b LEFT JOIN kept k2 ON b.doc_id = k2.doc_id
        |  GROUP BY b.doc_id, len(b.wl)
        |), surv AS (SELECT * FROM rw WHERE n_kept > 0),
        |qual AS (
        |${TextQualitySql.replace("FROM documents",
             "FROM (SELECT doc_id, clean_text AS text FROM surv)")}
        |)
        |SELECT s2.doc_id, s2.n_words, s2.n_kept, q.quality_score
        |FROM surv s2 JOIN qual q USING (doc_id)""".stripMargin),
    Entry("dedup_pipeline_quality", (s, d) => graft.operators.Dedup.pipelineQuality(s, d),
      // quality-ranked keeper: components re-derived recursively, the
      // quality score re-derived from text, the SAME (score desc, id)
      // per-cluster argmax, singletons via NOT IN the paired set
      s"""$NgramClusterCtes,
        |q AS (SELECT doc_id, quality_score FROM ($TextQualitySql)),
        |sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp),
        |kept AS (
        |  SELECT doc_id, cluster_size, quality_score FROM (
        |    SELECT c.id AS doc_id, s.cluster_size, q.quality_score,
        |      row_number() OVER (PARTITION BY c.comp
        |        ORDER BY q.quality_score DESC, c.id) AS rn
        |    FROM c JOIN sizes s ON c.comp = s.comp
        |           JOIN q ON q.doc_id = c.id)
        |  WHERE rn = 1
        |)
        |SELECT d.doc_id, CAST(1 AS BIGINT) AS cluster_size, q.quality_score
        |FROM documents d JOIN q ON q.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT id FROM c)
        |UNION ALL
        |SELECT doc_id, cluster_size, quality_score FROM kept""".stripMargin),
    // per-source provenance funnel: in → exact → near-dup → quality,
    // absolute survivor counts per source (keeper attribution)
    Entry("dedup_yield", (s, d) => graft.operators.Dedup.yieldReport(s, d),
      // per-source yield funnel: the planting, fingerprint keeper,
      // cluster CTEs (re-pointed at the exact survivors), and quality
      // score are the SAME SQL bodies as their standalone oracles —
      // string surgery, so the stages can never diverge from the
      // entries that gate them individually
      ("""WITH RECURSIVE d0 AS (SELECT doc_id, text FROM documents),
        |pl AS (
        |  SELECT a.doc_id, coalesce(b.text, a.text) AS text
        |  FROM d0 a LEFT JOIN d0 b ON b.doc_id =
        |    CASE WHEN a.doc_id % 100 = 90 THEN a.doc_id - 50
        |         WHEN a.doc_id % 7 = 3 THEN a.doc_id - 3 END
        |), f AS (
        |  SELECT doc_id, text,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM pl
        |), ek AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp),
        |sv AS (SELECT f.doc_id, f.text FROM f JOIN ek ON f.doc_id = ek.doc_id),
        |""".stripMargin +
        NgramClusterCtes
          .replace("FROM documents", "FROM sv")
          .replace("WITH RECURSIVE ", "") +
        """,
        |nk AS (
        |  SELECT sv.doc_id FROM sv WHERE sv.doc_id NOT IN (SELECT id FROM c)
        |  UNION ALL
        |  SELECT MIN(id) AS doc_id FROM c GROUP BY comp
        |), q AS (
        |""".stripMargin +
        TextQualitySql.replace("FROM documents", "FROM pl") +
        """
        |), qk AS (
        |  SELECT nk.doc_id FROM nk JOIN q ON nk.doc_id = q.doc_id
        |  WHERE q.quality_score >= 0.5
        |)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ek2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after_exact,
        |  CAST(SUM(CASE WHEN nk2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after_neardup,
        |  CAST(SUM(CASE WHEN qk2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after_quality
        |FROM documents d
        |LEFT JOIN ek ek2 ON d.doc_id = ek2.doc_id
        |LEFT JOIN nk nk2 ON d.doc_id = nk2.doc_id
        |LEFT JOIN qk qk2 ON d.doc_id = qk2.doc_id
        |GROUP BY d.source""".stripMargin)),
    Entry("dedup_pipeline_simhash", (s, d) => graft.operators.Dedup.pipelineSimhash(s, d),
      // same banding + a recursive transitive closure + keeper selection:
      // the full SimHash pipeline re-derived independently
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, simhash FROM ${golden("dedup_simhash")}
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |   AND (((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
         |     OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
         |     OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
         |     OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p
         |), r AS (
         |  SELECT src AS id, src AS comp FROM e
         |  UNION
         |  SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id
         |), c AS (
         |  SELECT id, min(comp) AS comp FROM r GROUP BY id
         |), sizes AS (
         |  SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp
         |)
         |SELECT d.doc_id, CAST(1 AS BIGINT) AS cluster_size FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT id FROM c)
         |UNION ALL
         |SELECT c.id AS doc_id, s.cluster_size FROM c JOIN sizes s ON c.comp = s.comp
         |  WHERE c.id = c.comp""".stripMargin),
    Entry("dedup_pipeline_embedding", (s, d) => graft.operators.Dedup.pipelineEmbedding(s, d),
      // same closure/keeper re-derivation over the golden embedding-LSH
      // pairs; the planted corpus is embeddings ∪ clones at +10^6 (the
      // cloneOffset for every shipped sf — ids ≪ 10^6)
      s"""WITH RECURSIVE p AS (
         |  SELECT vec_a AS doc_a, vec_b AS doc_b
         |  FROM ${golden("dedup_embedding_lsh")}
         |), ids AS (
         |  SELECT vec_id AS doc_id FROM embeddings
         |  UNION ALL SELECT vec_id + 1000000 FROM embeddings
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p
         |), r AS (
         |  SELECT src AS id, src AS comp FROM e
         |  UNION
         |  SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.id
         |), c AS (
         |  SELECT id, min(comp) AS comp FROM r GROUP BY id
         |), sizes AS (
         |  SELECT comp, COUNT(*) AS cluster_size FROM c GROUP BY comp
         |)
         |SELECT i.doc_id, CAST(1 AS BIGINT) AS cluster_size FROM ids i
         |  WHERE i.doc_id NOT IN (SELECT id FROM c)
         |UNION ALL
         |SELECT c.id AS doc_id, s.cluster_size FROM c JOIN sizes s ON c.comp = s.comp
         |  WHERE c.id = c.comp""".stripMargin),

    // ---- Similarity search (embeddings) ----
    Entry("ann_bruteforce", (s, d) => graft.operators.Similarity.bruteForceTopK(s, d),
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (
        |  SELECT q_id, vec_id,
        |    round(
        |      list_reduce(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM q, e WHERE vec_id <> q_id)
        |SELECT q_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
        |WHERE rnk <= 10""".stripMargin),
    Entry("ann_lsh", (s, d) => graft.operators.Similarity.lshTopK(s, d),
      s"SELECT q_id, vec_id, cos, rnk FROM ${golden("ann_lsh")}", Set(Tag.Golden)),
    Entry("ann_lsh_multiprobe", (s, d) => graft.operators.Similarity.lshMultiProbeTopK(s, d),
      s"SELECT q_id, vec_id, cos, rnk FROM ${golden("ann_lsh_multiprobe")}", Set(Tag.Golden)),
    Entry("ann_ivf", (s, d) => graft.operators.Similarity.ivfTopK(s, d),
      AnnIvfSql),
    // the same search through an index populated ENTIRELY by the
    // streaming exactly-once append path — checked against the same
    // independent SQL oracle as ann_ivf, so the hash match proves the
    // streamed index indistinguishable from the batch build
    Entry("ann_ivf_streamed", (s, d) => graft.operators.Similarity.ivfStreamedTopK(s, d),
      AnnIvfSql),
    Entry("ann_ivf_kmeans", (s, d) => graft.operators.Similarity.ivfKmeansTopK(s, d),
      s"SELECT q_id, vec_id, cos, rnk FROM ${golden("ann_ivf_kmeans")}", Set(Tag.Golden)),
    // per-cell population + cosine-to-centroid spread diagnostics
    Entry("ann_cluster_stats", (s, d) => graft.operators.Similarity.clusterStats(s, d),
      s"SELECT list_id, n, mean_cos, min_cos, max_cos FROM ${golden("ann_cluster_stats")}",
      Set(Tag.Golden)),
    Entry("ann_filtered", (s, d) => graft.operators.Similarity.filteredTopK(s, d),
      // PRE-filter semantics: the label predicate restricts the corpus
      // BEFORE ranking; queries themselves are unrestricted
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (
        |  SELECT q_id, vec_id, label,
        |    round(
        |      list_reduce(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM q, e WHERE vec_id <> q_id AND label % 4 = 1)
        |SELECT q_id, vec_id, label, cos, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
        |WHERE rnk <= 10""".stripMargin),
    // pre-filter semantics composed with the IVF probe: the predicate
    // runs against the label column STORED in the list layout
    Entry("ann_ivf_filtered", (s, d) => graft.operators.Similarity.ivfFilteredTopK(s, d),
      // the IVF re-derivation with the label predicate applied to the
      // assigned (corpus) side before ranking — pre-filter within the
      // probed lists, exactly the Spark plan's semantics
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |ac AS (
        |  SELECT n.vec_id, n.label, n.v, n.nrm, cent_id,
        |    round(list_reduce(list_transform(list_zip(n.v, cv),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
        |      / (n.nrm * cnrm), 6) AS ccos
        |  FROM n, cent),
        |assigned AS (SELECT vec_id, label, v, nrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM ac) WHERE crnk = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM (SELECT * FROM ac WHERE vec_id < 5)) WHERE crnk <= 4),
        |c AS (
        |  SELECT q.q_id, a.vec_id,
        |    round(list_reduce(list_transform(list_zip(q.qv, a.v),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
        |      / (q.qnrm * a.nrm), 6) AS cos
        |  FROM assigned a JOIN probes q
        |    ON a.list_id = q.list_id AND a.vec_id <> q.q_id
        |  WHERE a.label % 4 = 1)
        |SELECT q_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
        |WHERE rnk <= 5""".stripMargin),
    // tombstoned deletes: the probe anti-joins the delete-set FRAME
    // (count-gated broadcast) — immediate deletes, lazy compaction
    Entry("ann_ivf_deleted", (s, d) => graft.operators.Similarity.ivfDeletedTopK(s, d),
      // the identical IVF re-derivation with tombstoned corpus rows
      // excluded from the assigned lists (queries may still be deleted
      // ids — a query needn't be in the index)
      AnnIvfSql.replace(") WHERE crnk = 1),",
        ") WHERE crnk = 1 AND vec_id % 17 <> 0),")),
    Entry("ann_pq", (s, d) => graft.operators.Similarity.pqTopK(s, d),
      s"SELECT q_id, vec_id, cos, rnk FROM ${golden("ann_pq")}", Set(Tag.Golden)),
    Entry("ann_ivfpq", (s, d) => graft.operators.Similarity.ivfPqTopK(s, d),
      s"SELECT q_id, vec_id, cos, rnk FROM ${golden("ann_ivfpq")}", Set(Tag.Golden)),
    Entry("ann_range", (s, d) => graft.operators.Similarity.rangeSearch(s, d),
      // radius search: the complete cos >= t set per query (no rank, no
      // truncation) — same exact-arithmetic cosine as ann_bruteforce
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (
        |  SELECT q_id, vec_id,
        |    round(
        |      list_reduce(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM q, e WHERE vec_id <> q_id)
        |SELECT q_id, vec_id, cos FROM c WHERE cos >= 0.2""".stripMargin),
    Entry("ann_knn_join", (s, d) => graft.operators.Similarity.knnJoin(s, d),
      // kNN JOIN: the whole label-0 query SET against the corpus, k=5 —
      // same exact cosine + (cos desc, vec_id) rank as ann_bruteforce
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE label = 0),
        |c AS (
        |  SELECT q_id, vec_id,
        |    round(
        |      list_reduce(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM q, e WHERE vec_id <> q_id)
        |SELECT q_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
        |WHERE rnk <= 5""".stripMargin),
    Entry("ann_knn_join_ivf", (s, d) => graft.operators.Similarity.knnJoinIvf(s, d),
      // the kNN JOIN through the IVF probe: identical assignment/probe
      // re-derivation as ann_ivf, with the query side = the label-0 SET
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |ac AS (
        |  SELECT n.vec_id, n.label, n.v, n.nrm, cent_id,
        |    round(list_reduce(list_transform(list_zip(n.v, cv),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
        |      / (n.nrm * cnrm), 6) AS ccos
        |  FROM n, cent),
        |assigned AS (SELECT vec_id, v, nrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM ac) WHERE crnk = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM (SELECT * FROM ac WHERE label = 0)) WHERE crnk <= 4),
        |c AS (
        |  SELECT q.q_id, a.vec_id,
        |    round(list_reduce(list_transform(list_zip(q.qv, a.v),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
        |      / (q.qnrm * a.nrm), 6) AS cos
        |  FROM assigned a JOIN probes q ON a.list_id = q.list_id AND a.vec_id <> q.q_id)
        |SELECT q_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM c)
        |WHERE rnk <= 5""".stripMargin),
    Entry("ann_recall_eval", (s, d) => graft.operators.Similarity.recallEval(s, d),
      // recall@5 of the IVF probe vs the exact ranking, per query: the
      // ann_ivf CTEs + a brute-force CTE + a count join; hits are exact
      // ints and k is a constant, so recall is the same IEEE division
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |ac AS (
        |  SELECT n.vec_id, n.v, n.nrm, cent_id,
        |    round(list_reduce(list_transform(list_zip(n.v, cv),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
        |      / (n.nrm * cnrm), 6) AS ccos
        |  FROM n, cent),
        |assigned AS (SELECT vec_id, v, nrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM ac) WHERE crnk = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM (SELECT * FROM ac WHERE vec_id < 5)) WHERE crnk <= 4),
        |ivf AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, a.vec_id,
        |    round(list_reduce(list_transform(list_zip(q.qv, a.v),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
        |      / (q.qnrm * a.nrm), 6) AS cos,
        |    rank() OVER (PARTITION BY q.q_id ORDER BY
        |      round(list_reduce(list_transform(list_zip(q.qv, a.v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
        |        / (q.qnrm * a.nrm), 6) DESC, a.vec_id) AS rnk
        |  FROM assigned a JOIN probes q ON a.list_id = q.list_id AND a.vec_id <> q.q_id)
        |  WHERE rnk <= 5),
        |q2 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |bf AS (SELECT q_id, vec_id FROM (
        |  SELECT q2.q_id, n.vec_id,
        |    rank() OVER (PARTITION BY q2.q_id ORDER BY
        |      round(list_reduce(list_transform(list_zip(q2.qv, n.v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |        / (q2.qnrm * n.nrm), 6) DESC, n.vec_id) AS rnk
        |  FROM q2, n WHERE n.vec_id <> q2.q_id)
        |  WHERE rnk <= 5)
        |SELECT bf.q_id,
        |  CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall
        |FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.vec_id = ivf.vec_id
        |GROUP BY bf.q_id""".stripMargin),
    // the recall-vs-nprobe sweep: the quality/cost knob measured in one
    // frame (each probe count reads nprobe/nlist of the corpus)
    Entry("ann_recall_curve", (s, d) => graft.operators.Similarity.recallCurve(s, d),
      // the nprobe SWEEP: probes keep their centroid rank so each sweep
      // point takes crnk <= nprobe, the IVF rank re-partitions per
      // (nprobe, query), and the recall join fans out over the sweep
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |ac AS (
        |  SELECT n.vec_id, n.v, n.nrm, cent_id,
        |    round(list_reduce(list_transform(list_zip(n.v, cv),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
        |      / (n.nrm * cnrm), 6) AS ccos
        |  FROM n, cent),
        |assigned AS (SELECT vec_id, v, nrm, cent_id AS list_id FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM ac) WHERE crnk = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS list_id, crnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crnk
        |  FROM (SELECT * FROM ac WHERE vec_id < 5)) WHERE crnk <= 8),
        |np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
        |ivf AS (SELECT nprobe, q_id, vec_id FROM (
        |  SELECT np.nprobe, q.q_id, a.vec_id,
        |    rank() OVER (PARTITION BY np.nprobe, q.q_id ORDER BY
        |      round(list_reduce(list_transform(list_zip(q.qv, a.v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a2, b2) -> a2 + b2)
        |        / (q.qnrm * a.nrm), 6) DESC, a.vec_id) AS rnk
        |  FROM assigned a JOIN probes q ON a.list_id = q.list_id AND a.vec_id <> q.q_id
        |  JOIN np ON q.crnk <= np.nprobe)
        |  WHERE rnk <= 5),
        |q2 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |bf AS (SELECT q_id, vec_id FROM (
        |  SELECT q2.q_id, n.vec_id,
        |    rank() OVER (PARTITION BY q2.q_id ORDER BY
        |      round(list_reduce(list_transform(list_zip(q2.qv, n.v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |        / (q2.qnrm * n.nrm), 6) DESC, n.vec_id) AS rnk
        |  FROM q2, n WHERE n.vec_id <> q2.q_id)
        |  WHERE rnk <= 5)
        |SELECT np.nprobe, bf.q_id,
        |  CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall
        |FROM np CROSS JOIN bf
        |LEFT JOIN ivf ON ivf.nprobe = np.nprobe AND bf.q_id = ivf.q_id
        |  AND bf.vec_id = ivf.vec_id
        |GROUP BY 1, 2""".stripMargin, Set(Tag.Validation)),
    Entry("ann_knn_classify", (s, d) => graft.operators.Similarity.knnClassify(s, d),
      // k-NN majority-vote classification: same cosine/rank chain as
      // ann_knn_join, then a (count desc, label) argmax over the votes —
      // a total order, so the prediction is engine-deterministic
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, label AS true_label
        |      FROM e WHERE vec_id % 20 = 0),
        |c AS (
        |  SELECT q_id, true_label, vec_id, label AS n_label,
        |    round(
        |      list_reduce(list_transform(list_zip(qv, v),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y))), 6) AS cos
        |  FROM q, e WHERE vec_id <> q_id),
        |t AS (SELECT * FROM (
        |  SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM c) WHERE rnk <= 5),
        |vt AS (SELECT q_id, true_label, n_label, COUNT(*) AS n_votes
        |       FROM t GROUP BY 1, 2, 3)
        |SELECT q_id, true_label, n_label AS pred_label,
        |  CAST(n_votes AS BIGINT) AS n_votes,
        |  n_label = true_label AS correct
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY n_votes DESC, n_label) AS vr FROM vt)
        |WHERE vr = 1""".stripMargin),

    // ---- Deterministic sampling / splits ----
    Entry("sample_split", (s, d) => graft.operators.Sampling.docSplit(s, d),
      """SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""".stripMargin),
    // cluster-aware split: near-dup clusters assigned atomically by
    // the hash of their component id — eval-leakage decontamination
    Entry("sample_split_decontam", (s, d) => graft.operators.Sampling.decontamSplit(s, d),
      // cluster-aware split: the recursive-CTE components re-derive the
      // same near-dup clusters; split decided by md5 of the COMPONENT id
      // (unpaired docs fall back to their own id = the sample_split rule)
      s"""$NgramClusterCtes
         |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_id,
         | CASE WHEN substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
         |      WHEN substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents d LEFT JOIN c ON c.id = d.doc_id""".stripMargin),
    Entry("sample_temporal_split", (s, d) => graft.operators.Sampling.temporalSplit(s, d),
      // temporal split: int64-only cut arithmetic (div vs // agree on
      // positive operands), so the boundary is engine-exact
      """WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts FROM events),
        |b AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM ev)
        |SELECT event_id, ts,
        |  CASE WHEN ts < lo + (((hi - lo) * 4) // 5) THEN 'train'
        |       ELSE 'test' END AS split
        |FROM ev CROSS JOIN b""".stripMargin),
    Entry("sample_curriculum", (s, d) => graft.operators.Sampling.curriculum(s, d),
      // curriculum: tier = least(floor(score*4), 3) over the shared
      // quality chain; within-cell md5 shuffle — same hv/doc_id rank as
      // sample_shuffle, partitioned by (tier, shard)
      s"""WITH q AS ($TextQualitySql),
         |b AS (
         |  SELECT doc_id, quality_score,
         |    CAST(least(floor(quality_score * 4), 3) AS BIGINT) AS tier,
         |    md5(CAST(doc_id AS VARCHAR) || '#graft') AS hv
         |  FROM q)
         |SELECT doc_id, quality_score, tier, substring(hv, 1, 1) AS shard,
         |  row_number() OVER (PARTITION BY tier, substring(hv, 1, 1)
         |    ORDER BY hv, doc_id) AS pos
         |FROM b""".stripMargin),
    Entry("sample_temperature", (s, d) => graft.operators.Sampling.temperatureMix(s, d),
      // temperature mix: data-derived keep rates sqrt(n_min/n_src)
      // (integer counts → one IEEE division → correctly-rounded sqrt),
      // then the sample_weighted hex-threshold compare
      """WITH c AS (SELECT lang, COUNT(*) AS n_src FROM documents GROUP BY 1),
        |m AS (SELECT MIN(n_src) AS n_min FROM c),
        |r AS (SELECT lang,
        |  sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) AS rate
        |  FROM c CROSS JOIN m)
        |SELECT doc_id, d.lang, rate
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE rate >= 1.0 OR round(rate * 256) >= 256
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |      < lpad(lower(hex(CAST(round(rate * 256) AS BIGINT))), 2, '0')""".stripMargin),
    Entry("sample_kfold", (s, d) => graft.operators.Sampling.docKfold(s, d),
      // k-fold: the same 256 md5 buckets decoded to an int (hex pair via
      // strpos over '0123456789abcdef' — pure string arithmetic) mod k
      """WITH b AS (
        |  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 5 AS BIGINT)
        |    AS fold
        |FROM b""".stripMargin),
    Entry("sample_shuffle", (s, d) => graft.operators.Sampling.shuffleDocs(s, d),
      // deterministic sharded shuffle order: shard = leading hex char of
      // the salted md5, pos = rank of (hash, id) within the shard — the
      // same md5-bucket family as sample_split, identical on both engines
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#graft') AS hv
        |  FROM documents)
        |SELECT doc_id, substring(hv, 1, 1) AS shard,
        |  row_number() OVER (PARTITION BY substring(hv, 1, 1)
        |    ORDER BY hv, doc_id) AS pos
        |FROM h""".stripMargin),
    // per-epoch independent permutations: the epoch folds into the
    // hash salt, so any epoch regenerates in isolation
    Entry("sample_epochs", (s, d) => graft.operators.Sampling.epochOrders(s, d),
      // per-epoch orders: the same chain with the epoch folded into the
      // salt, one branch per epoch
      (0 until 3).map(e =>
        s"""SELECT CAST($e AS BIGINT) AS epoch, doc_id,
           |  substring(hv, 1, 1) AS shard,
           |  row_number() OVER (PARTITION BY substring(hv, 1, 1)
           |    ORDER BY hv, doc_id) AS pos
           |FROM (SELECT doc_id,
           |        md5(CAST(doc_id AS VARCHAR) || '#graft-e$e') AS hv
           |      FROM documents)""".stripMargin)
        .mkString("", "\nUNION ALL\n", "")),
    Entry("sample_stratified", (s, d) => graft.operators.Sampling.stratifiedSample(s, d),
      """SELECT vec_id, label, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT vec_id, label, row_number() OVER (
        |    PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
        |  FROM embeddings)
        |WHERE rnk <= 10""".stripMargin),
    // label-balanced cut at the data-derived minority-class count
    Entry("sample_balanced", (s, d) => graft.operators.Sampling.balancedSample(s, d),
      // balanced cut: the same md5-rank chain with the cap DERIVED from
      // the minority class count instead of declared
      """WITH m AS (SELECT MIN(n) AS n_min FROM (
        |  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1)),
        |r AS (
        |  SELECT vec_id, label, row_number() OVER (
        |    PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
        |  FROM embeddings)
        |SELECT vec_id, label, CAST(rnk AS BIGINT) AS rnk
        |FROM r CROSS JOIN m WHERE rnk <= n_min""".stripMargin),
    Entry("sample_mix", (s, d) => graft.operators.Sampling.sourceMix(s, d),
      // per-source keep rates over the same md5 hex buckets as
      // sample_split: 1.0 / 0.5 (< '80') / 0.25 (< '40') / 0.125 default
      """SELECT doc_id, source FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN TRUE
        |  WHEN 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |  WHEN 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20' END""".stripMargin),
    Entry("sample_pack", (s, d) => graft.operators.Sampling.packDocs(s, d),
      // sequence packing: same ws-token count as text_tokens, same
      // per-shard cumsum window, exact integer division on both engines;
      // `shard` = the packing-grain key (the default grain is per-source,
      // so shard == source here — a composite grain would differ)
      """WITH t AS (
        |  SELECT doc_id, source, source AS shard,
        |    CAST(length(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, shard, n_tokens,
        |    -- CAST: DuckDB window SUM(BIGINT) is HUGEINT, which would
        |    -- drift the compared dtypes to float downstream
        |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, source, shard, n_tokens,
        |  CAST(cum_before // 1024 AS BIGINT) AS seq_first,
        |  CAST(greatest((cum_before + n_tokens - 1) // 1024,
        |           cum_before // 1024) AS BIGINT) AS seq_last,
        |  CAST(cum_before % 1024 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin),
    Entry("sample_weighted", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.operators.Sampling.weightedSample(
        graft.operators.TextAnalysis.quality(s, d)
          .select(col("doc_id"), col("quality_score")),
        col("doc_id"), col("quality_score"))
    },
      // per-row weighted keep: same md5 bucket, threshold = the row's own
      // weight rendered as the 2-hex-char bucket string on both engines
      s"""WITH q AS ($TextQualitySql)
         |SELECT doc_id, quality_score FROM q
         |WHERE quality_score >= 1.0 OR round(quality_score * 256) >= 256
         |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
         |      < lpad(lower(hex(CAST(round(quality_score * 256) AS BIGINT))), 2, '0')""".stripMargin),

    // ---- Multimodal plumbing ----
    Entry("mm_meta", (s, d) => graft.operators.Multimodal.extractMeta(s, d),
      s"""SELECT doc_id, n_bytes, mime, width, height, sample_rate, channels
         |FROM ${golden("mm_meta")}""".stripMargin, Set(Tag.Golden)),
    // audio-side feature pass: integer-exact PCM stats (count, peak,
    // energy) from one codegen'd byte kernel, duration/RMS as the only
    // float steps — the silence/clipping screen before transcription
    Entry("mm_audio_stats", (s, d) => graft.operators.Multimodal.audioStats(s, d),
      s"""SELECT doc_id, sample_rate, channels, n_samples, peak, duration_ms, rms
         |FROM ${golden("mm_audio_stats")}""".stripMargin, Set(Tag.Golden)),
    // frame stride over the per-partition batch loop; the compared
    // output fingerprints each frame (length + md5) so the check rides
    // primitive columns, not raw binary
    Entry("mm_framesample", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.operators.Multimodal
        .frameSample(graft.operators.Multimodal.blobFrame(s, d))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"),
          md5(col("frame")).as("frame_md5"))
    },
      s"""SELECT doc_id, frame_idx, n_bytes, frame_md5
         |FROM ${golden("mm_framesample")}""".stripMargin, Set(Tag.Golden)),
    // aspect-preserving thumbnail dims + the stand-in resize kernel's
    // payload fingerprint, on the per-partition codec loop
    Entry("mm_resize", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.operators.Multimodal
        .resizeBatch(graft.operators.Multimodal.blobFrame(s, d))
        .select(col("doc_id"), col("mime"), col("width"), col("height"),
          col("out_width"), col("out_height"),
          length(col("out_payload")).cast("long").as("out_bytes"),
          md5(col("out_payload")).as("out_md5"))
    },
      s"""SELECT doc_id, mime, width, height, out_width, out_height,
         |       out_bytes, out_md5
         |FROM ${golden("mm_resize")}""".stripMargin, Set(Tag.Golden)),
  )
}
