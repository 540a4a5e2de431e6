package graft.operators

import graft.io.Source
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.{GraftFunctions, MmFormat}
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio payloads as opaque
  * `binary` columns with typed metadata.
  *
  * The metadata extraction is a *real* byte-level container-header
  * parser for public formats — PNG (signature + IHDR, RFC 2083 §3.1)
  * and WAV (RIFF/WAVE `fmt ` chunk) — no codec libraries involved, and
  * it runs as a native `binary → struct` Catalyst expression
  * (`graft_mm_meta`), so the whole path is DataFrame-native inside one
  * WholeStageCodegen span: columnar parquet scan → synth → parse, no
  * RDD round-trip. Payload *decoding* past the header (pixel/sample
  * data) is where codec libraries and per-partition batch state come
  * in — that slot is [[decodeBatch]].
  *
  * Since the corpus ships no real media, [[blobFrame]] synthesizes
  * payloads with genuine PNG/WAV headers derived deterministically from
  * each document — so the parser is exercised on the real byte layout.
  */
object Multimodal {

  /** Typed metadata per blob; format-inapplicable fields are NULL. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true)))

  // byte-level logic lives with the expressions (graft.expressions
  // .MmFormat); aliased here for API continuity
  type Meta = MmFormat.Meta
  val HeaderParser: MmFormat.HeaderParser.type = MmFormat.HeaderParser
  val Synth: MmFormat.Synth.type = MmFormat.Synth

  /** Binary-blob frame from `documents`: (doc_id, payload binary) with
    * synthesized-but-genuine container headers — a pure projection
    * (`graft_mm_synth`).
    */
  def blobFrame(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Source.table(spark, dir, "documents")
      .select(col("doc_id"),
        call_function("graft_mm_synth", col("doc_id"), col("text")).as("payload"))
  }

  /** Header-parse pass: DataFrame-native end-to-end — `graft_mm_meta`
    * emits the typed struct per row and the projection flattens it to
    * [[MetaSchema]].
    */
  def extractMeta(spark: SparkSession, dir: String): DataFrame =
    blobFrame(spark, dir)
      .withColumn("m", call_function("graft_mm_meta", col("payload")))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("m.mime").as("mime"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"))

  /** Audio feature extraction over the WAV blobs — the audio-side
    * sibling of the image header/phash passes: per audio payload,
    * PCM frame count, duration, peak amplitude, and RMS level (the
    * silence/clipping screens an audio-curation pipeline runs before
    * paying for transcription). The byte-level work
    * (`graft_wav_stats`) is INTEGER-exact — sample count, peak,
    * Σ sample² — inside one codegen'd projection with the header
    * parse; the only float steps are the final duration division and
    * the RMS sqrt, computed relationally from the exact integers (the
    * docFreq convention). One scan, no joins, no shuffle; output ∝
    * audio blobs.
    */
  def audioStats(spark: SparkSession, dir: String): DataFrame =
    blobFrame(spark, dir)
      .withColumn("m", call_function("graft_mm_meta", col("payload")))
      .withColumn("s", call_function("graft_wav_stats", col("payload")))
      .where(col("s.n_samples") >= 0 && col("m.mime") === "audio/wav")
      .select(col("doc_id"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("s.n_samples").as("n_samples"),
        col("s.peak").as("peak"),
        // PCM frames = samples div channels (exact); duration is one
        // IEEE division over exact integers
        round(expr("(s.n_samples div m.channels) * 1000.0d")
          / col("m.sample_rate"), 6).as("duration_ms"),
        when(col("s.n_samples") === 0, lit(null).cast("double"))
          .otherwise(round(sqrt(col("s.energy").cast("double")
            / col("s.n_samples")), 6)).as("rms"))

  /** The codec-decode slot: per-partition batch iteration over blobs —
    * one decoder/context init per partition, streaming over rows, no
    * driver collect. This is where a real deployment plugs an image or
    * audio codec (not shipped here); the default `decode` is a
    * deterministic stand-in (leading-byte checksum) that keeps the
    * plumbing — schema, batch shape, partition-level init — real and
    * testable.
    */
  def decodeBatch(blobs: DataFrame,
                  decode: Array[Byte] => Long = defaultDecode): DataFrame = {
    val spark = blobs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("feature", LongType, nullable = false)))
    val rdd = blobs.select(col("doc_id"), col("payload")).rdd.mapPartitions { rows =>
      // per-partition setup: codec contexts / reusable buffers init here
      rows.map { r =>
        org.apache.spark.sql.Row(r.getLong(0), decode(r.getAs[Array[Byte]](1)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  private def defaultDecode(b: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    val n = math.min(b.length, 64)
    while (i < n) { h = h * 31 + (b(i) & 0xff); i += 1 }
    h
  }

  /** Frame sampling over binary payloads: emit every `everyK`-th frame
    * of each blob as its own (doc_id, frame_idx, frame) row — the
    * video-pipeline shape (decode container → iterate frames → keep a
    * stride) on the same per-partition batch loop as [[decodeBatch]].
    * One blob fans out to many frame rows WITHOUT driver involvement,
    * and downstream per-frame work (embedding, resize, dedup) joins on
    * (doc_id, frame_idx).
    *
    * The real codec isn't shipped (no media libs in this build), so the
    * default `frames` treats the post-header payload as fixed-size
    * chunks — a deterministic stand-in with the exact iterator contract
    * a decoder plugs into (header parse once per blob, then a lazy
    * frame iterator; nothing is materialized per partition beyond the
    * row stream).
    */
  def frameSample(blobs: DataFrame, everyK: Int = 2,
                  frames: Array[Byte] => Iterator[Array[Byte]] = defaultFrames)
      : DataFrame = {
    require(everyK >= 1, "everyK must be >= 1")
    val spark = blobs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val rdd = blobs.select(col("doc_id"), col("payload")).rdd.mapPartitions { rows =>
      // per-partition setup: codec contexts init here, once
      rows.flatMap { r =>
        val id = r.getLong(0)
        frames(r.getAs[Array[Byte]](1)).zipWithIndex.collect {
          case (f, i) if i % everyK == 0 =>
            org.apache.spark.sql.Row(id, i.toLong, f)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Image resize over binary payloads — the remaining codec-slot op
    * of the decode / feature-extract / resize / frame-sample family:
    * per blob, the aspect-preserving target dimensions for a `maxDim`
    * bounding box (integer arithmetic: `scale = maxDim / max(w, h)`,
    * floor, min 1 — the thumbnailing contract every image pipeline
    * runs before embedding) plus the resized payload produced by the
    * pluggable `resize` kernel on the SAME per-partition batch loop as
    * [[decodeBatch]] (one codec context per partition, streaming rows,
    * no driver involvement). Header parsing reuses the byte-level
    * [[HeaderParser]]; non-image blobs pass through with NULL target
    * dims and an untouched payload. The default `resize` is a
    * deterministic stand-in (dimension-seeded byte subsample — no
    * image libs in this build) that keeps schema, dims math, and batch
    * shape real and golden-pinned.
    */
  def resizeBatch(blobs: DataFrame, maxDim: Int = 64,
                  resize: (Array[Byte], Int, Int) => Array[Byte] = defaultResize)
      : DataFrame = {
    require(maxDim >= 1, "maxDim must be >= 1")
    val spark = blobs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("out_width", IntegerType, nullable = true),
      StructField("out_height", IntegerType, nullable = true),
      StructField("out_payload", BinaryType, nullable = false)))
    val rdd = blobs.select(col("doc_id"), col("payload")).rdd.mapPartitions { rows =>
      // per-partition setup: codec contexts init here, once
      rows.map { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        val m = HeaderParser.parse(b)
        (m.width, m.height) match {
          case (Some(w), Some(h)) if w >= 1 && h >= 1 =>
            val big = math.max(w, h)
            val (ow, oh) =
              if (big <= maxDim) (w, h)
              else (math.max(1, w * maxDim / big), math.max(1, h * maxDim / big))
            org.apache.spark.sql.Row(id, m.mime,
              Integer.valueOf(w), Integer.valueOf(h),
              Integer.valueOf(ow), Integer.valueOf(oh), resize(b, ow, oh))
          case _ =>
            org.apache.spark.sql.Row(id, m.mime, null, null, null, null, b)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Perceptual average-hash (aHash) over binary payloads — the image
    * near-dup fingerprint (same contract as pHash libraries: 8×8 luma
    * grid, bit i = cell i brighter than the grid mean; visually-close
    * images differ in few bits, so near-dup detection is a Hamming
    * band join — exactly [[Dedup.simhashPairs]]'s shape on the image
    * side). Runs on the SAME per-partition batch loop as
    * [[decodeBatch]] (codec context per partition, streaming rows);
    * the pluggable `gray` kernel is where a real decoder hands back
    * grayscale pixels — the default stand-in reads the post-header
    * payload bytes as the luma plane, keeping grid math, thresholding,
    * and bit packing real and golden-pinned. Non-image blobs hash
    * their payload the same way (a fingerprint, not a decode error).
    *
    * Output: (doc_id, mime, phash) — 64-bit hash as a long.
    */
  def phashBatch(blobs: DataFrame,
                 gray: Array[Byte] => Array[Byte] = defaultGray): DataFrame = {
    val spark = blobs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = blobs.select(col("doc_id"), col("payload")).rdd.mapPartitions { rows =>
      // per-partition setup: codec contexts init here, once
      rows.map { r =>
        val b = r.getAs[Array[Byte]](1)
        org.apache.spark.sql.Row(r.getLong(0), HeaderParser.parse(b).mime,
          averageHash(gray(b)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** aHash bit packing over a luma plane: 64 equal cells, cell mean vs
    * grid mean, integer accumulation throughout (no float chain to
    * diverge). Empty planes hash to 0.
    */
  private[operators] def averageHash(px: Array[Byte]): Long = {
    val n = px.length
    if (n == 0) return 0L
    val cell = new Array[Long](64)
    val cnt = new Array[Long](64)
    var i = 0
    while (i < n) {
      // fixed 64-way partition of the plane; c ∈ [0, 63] for every i < n
      val c = (i.toLong * 64 / n).toInt
      cell(c) += (px(i) & 0xff); cnt(c) += 1
      i += 1
    }
    var total = 0L
    var c = 0
    while (c < 64) { if (cnt(c) > 0) cell(c) = cell(c) * 64 / cnt(c); total += cell(c); c += 1 }
    // compare cell·64·64 vs total·64 — scaled integers, no division loss
    var h = 0L
    c = 0
    while (c < 64) { if (cell(c) * 64 > total) h |= (1L << c); c += 1 }
    h
  }

  /** Stand-in luma plane: the payload past the 44-byte header region. */
  private def defaultGray(b: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(b, math.min(44, b.length), b.length)

  /** Image near-dup pairs by banded Hamming join over [[phashBatch]]
    * fingerprints — [[Dedup]]'s text-side recipe applied to the image
    * side (shared [[Dedup.hammingCandFrame]] core: 4 × 16-bit bands are
    * a complete candidate generator for `hamMax ≤ 3`, one `bit_count`
    * per candidate to verify). Scales like simhash dedup: candidates ∝
    * colliding band buckets, never all-pairs; duplicate images (same
    * source bytes) collide at Hamming 0, near-variants within a few
    * bits.
    */
  def phashPairs(spark: SparkSession, dir: String, hamMax: Int = 3): DataFrame = {
    require(hamMax >= 0 && hamMax <= 3,
      "band completeness holds for hamMax <= 3")
    Dedup.hammingCandFrame(
      phashBatch(blobFrame(spark, dir)).select(col("doc_id"), col("phash")),
      "doc_id", "phash")
      .where(col("hamming") <= hamMax)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** End-to-end IMAGE dedup — the vision-pipeline composition: phash
    * fingerprints → banded Hamming pairs → connected components →
    * min-id keeper + untouched singletons, i.e.
    * [[Dedup.pipelineOverPairs]] running over the image signal instead
    * of a text one (the pipeline is signal-agnostic by construction —
    * this is the fourth pair source through it, after minhash /
    * simhash / embedding). Output: (doc_id, cluster_size) for every
    * surviving image; keeper rows carry their cluster's member count,
    * so sizes sum to the corpus — the partition invariant the spec
    * pins.
    */
  def dedupImages(spark: SparkSession, dir: String, hamMax: Int = 3): DataFrame =
    Dedup.pipelineOverPairs(
      Source.table(spark, dir, "documents").select(col("doc_id")),
      phashPairs(spark, dir, hamMax))

  /** Deterministic resize stand-in: `ow·oh` bytes sampled at a fixed
    * stride from the payload — the byte volume a real thumbnail
    * decoder would hand back, without the codec.
    */
  private def defaultResize(b: Array[Byte], ow: Int, oh: Int): Array[Byte] = {
    val n = math.min(ow * oh, b.length)
    if (n <= 0) return Array.emptyByteArray
    val out = new Array[Byte](n)
    val stride = math.max(1, b.length / n)
    var i = 0
    while (i < n) { out(i) = b(math.min(i * stride, b.length - 1)); i += 1 }
    out
  }

  /** Deterministic stand-in frame iterator: 256-byte chunks of the
    * payload past the 44-byte container header region.
    */
  private def defaultFrames(b: Array[Byte]): Iterator[Array[Byte]] = {
    val start = math.min(44, b.length)
    val frame = 256
    Iterator.range(start, b.length, frame).map { o =>
      java.util.Arrays.copyOfRange(b, o, math.min(o + frame, b.length))
    }
  }

  /** [[defaultFrames]] at a caller-chosen stride — the fingerprint
    * pass uses finer frames so short synthetic payloads still carry a
    * multi-frame signature.
    */
  private def framesOf(frameBytes: Int)(b: Array[Byte]): Iterator[Array[Byte]] = {
    val start = math.min(44, b.length)
    Iterator.range(start, b.length, frameBytes).map { o =>
      java.util.Arrays.copyOfRange(b, o, math.min(o + frameBytes, b.length))
    }
  }

  /** Fingerprint frame size for the video-dedup pass (bytes). */
  val VideoFrameBytes = 32

  /** The planted video corpus: `doc_id % 25 == 7` re-delivers the
    * FIRST HALF (frame-aligned) of `(doc_id − 7)`'s payload — the
    * truncated re-encode/clip case frame-level dedup exists for, at
    * the [[graft.operators.Dedup]] planted-re-delivery precedent
    * (this synthetic corpus has no cross-payload frame overlap
    * otherwise). Frame alignment makes the shared prefix byte-exact
    * frame-for-frame.
    */
  def videoBlobs(spark: SparkSession, dir: String): DataFrame = {
    val base = blobFrame(spark, dir)
    val srcId = when(col("doc_id") % 25 === 7, col("doc_id") - 7)
    base.select(col("doc_id"), srcId.as("src"), col("payload").as("own"))
      .join(base.select(col("doc_id").as("src"), col("payload").as("sp")),
        Seq("src"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, col("own")).otherwise(expr(
          s"substring(sp, 1, cast(44 + greatest(((length(sp) - 44) div " +
            s"${2 * VideoFrameBytes}) * $VideoFrameBytes, 0) as int))"))
          .as("payload"))
  }

  /** Per-payload frame fingerprints — the sampled-frame signature a
    * video pipeline extracts before any pixel work (here the
    * stand-in byte frames; a real deployment swaps the iterator for a
    * keyframe decoder on the same per-partition loop). Golden-pinned.
    */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    frameSample(videoBlobs(spark, dir), everyK = 1,
        frames = framesOf(VideoFrameBytes))
      .select(col("doc_id"), col("frame_idx"),
        md5(col("frame")).as("frame_md5"))

  /** Frame-CONTAINMENT near-dup pairs — the video analog of
    * [[graft.operators.Dedup.containment]]: a clip or truncated
    * re-encode shares most of its frames with its source while plain
    * set-Jaccard dilutes under the length difference, so the score is
    * `|A∩B| / min(|A|,|B|)` over DISTINCT frame fingerprints. The
    * same posting-list shape and contract: stop-frames past `maxDf`
    * cut first (per-fingerprint pair cost is bounded by maxDf²),
    * sizes and the denominator over the post-cut sets, ROUNDED
    * threshold compare.
    */
  def framePairs(spark: SparkSession, dir: String,
                 threshold: Double = 0.5, maxDf: Long = 20): DataFrame = {
    val post0 = videoFrames(spark, dir)
      .select(col("doc_id"), col("frame_md5")).distinct()
    val ok = post0.groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("dfc"))
      .where(col("dfc") <= maxDf).select(col("frame_md5"))
    val post = post0.join(ok, "frame_md5")
    val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    post.as("a")
      .join(post.as("b"),
        col("a.frame_md5") === col("b.frame_md5") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double")
          / least(col("na"), col("nb")).cast("double"), 6).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** End-to-end frame-level dedup: containment pairs → connected
    * components → kept corpus, through the one
    * [[graft.operators.Dedup.pipelineOverPairs]] composition — the
    * FOURTH pair signal through it (minhash / simhash / embedding /
    * frames), which is the point of the shared composition.
    */
  def dedupFrames(spark: SparkSession, dir: String): DataFrame =
    Dedup.pipelineOverPairs(
      Source.table(spark, dir, "documents").select(col("doc_id")),
      framePairs(spark, dir).select(col("doc_a"), col("doc_b")))
}
