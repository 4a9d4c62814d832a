package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables
import graft.multimodal.{BmpCodec, MediaSynth, WavCodec}

/** Oracle-checkable slice of the multimodal surface. Two layers:
  *
  *  - metadata/dedup/planning queries over opaque payloads derived from
  *    `documents` (byte-level semantics both engines agree on);
  *  - REAL decode queries (round 6): payloads are standard 24-bpp BMP /
  *    RIFF-WAVE PCM16 / concatenated-BMP video synthesized from
  *    closed-form pixel/sample functions ([[MediaSynth]]), decoded by the
  *    pure-JVM codecs ([[BmpCodec]]/[[WavCodec]]), and the DuckDB oracle
  *    states what a correct decode MUST recover directly from the
  *    closed forms — it never parses a byte. Position-weighted checksums
  *    make stride/padding, bottom-up row order, chunk-walk and container
  *    framing bugs all hash-visible.
  *
  * The decode stage is embarrassingly parallel mapPartitions work over
  * the binary column (the mapInPandas shape): no shuffle before the
  * per-row feature emit, so the stage scales linearly with the corpus.
  */
object MultimodalOps {

  /** decoded-image features (top-level so the Dataset Encoder derives) */
  final case class ImgFeat(doc_id: Long, w: Long, h: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, poschk: Long)

  /** decoded-audio features */
  final case class WavFeat(doc_id: Long, sample_rate: Long, n_samples: Long,
      sum_s: Long, max_abs: Long, poschk: Long)

  /** sampled-video-frame features */
  final case class VideoFeat(doc_id: Long, n_frames: Long, w: Long, h: Long,
      lum_sum: Long, poschk: Long)

  /** perceptual-hash row (hi/lo 32-bit halves; see MediaPipeline.aHash) */
  final case class PhashFeat(doc_id: Long, h_hi: Long, h_lo: Long, lum_total: Long)

  final case class CutFeat(doc_id: Long, f_from: Long, n_px: Long,
      sad: Long, is_cut: Boolean)

  /** windowed-audio-analysis row */
  final case class AudioWin(doc_id: Long, win: Long, n_samples: Long,
      energy: Long, max_abs: Long, zero_cross: Long)

  /** pairs farther than this hamming distance are not near-dups */
  private val PhashMaxDist = 3

  /** scene-cut threshold: mean per-pixel |Δlum| above this flags a cut
    * (lum ∈ [0, 2040]; independent pseudo-random frames sit near E|Δ|≈680,
    * so the flag splits the synthetic transitions rather than saturating) */
  private val CutThresh = 680L

  /** the closed-form phash oracle chain, shared by multimodal_phash and
    * multimodal_phash_pairs: hh(doc_id, h_hi, h_lo) + t(doc_id, total).
    * Must replay MediaSynth's pixel function and BmpCodec.resample's
    * source mapping exactly (see multimodal_phash). */
  private val PhashCte =
    """m AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
      |                  CAST(1 + (doc_id * 3) % 16 AS BIGINT) AS h
      |           FROM documents WHERE doc_id % 3 = 0),
      |g AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS i FROM m),
      |c AS (SELECT doc_id, i, ((i % 8) * w) // 8 AS sx, ((i // 8) * h) // 8 AS sy FROM g),
      |l AS (SELECT doc_id, i,
      |        2 * ((doc_id * 31 + sx * 7 + sy * 13) % 256)
      |      + 5 * ((doc_id * 17 + sx * 11 + sy * 5) % 256)
      |      +     ((doc_id * 29 + sx * 3 + sy * 19) % 256) AS lum FROM c),
      |t AS MATERIALIZED (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS total
      |      FROM l GROUP BY doc_id),
      |b AS (SELECT l.doc_id, l.i,
      |        CASE WHEN l.lum * 64 > t.total THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
      |      FROM l JOIN t ON t.doc_id = l.doc_id),
      |hh AS MATERIALIZED (SELECT b.doc_id,
      |       CAST(sum(CASE WHEN i >= 32 THEN bit << (i - 32) ELSE 0 END) AS BIGINT) AS h_hi,
      |       CAST(sum(CASE WHEN i < 32 THEN bit << i ELSE 0 END) AS BIGINT) AS h_lo
      |      FROM b GROUP BY b.doc_id)""".stripMargin

  /** hamming ≤ [[PhashMaxDist]] phash pairs (a, b, dist) via the complete
    * 4-band pigeonhole join — shared by the pair report and the cluster
    * grouping (one banded join, never all-pairs) */
  private def phashPairs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val ph = phashDf(spark, sfDir).select("doc_id", "h_hi", "h_lo")
      .transform(graft.CacheTracker.persist)
    val bands = ph.select(col("doc_id"), col("h_hi"), col("h_lo"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("bandval", expr(
        "CASE WHEN k < 2 THEN (h_lo DIV shiftleft(CAST(1 AS BIGINT), k * 16)) % 65536 " +
          "ELSE (h_hi DIV shiftleft(CAST(1 AS BIGINT), (k - 2) * 16)) % 65536 END"))
    bands.alias("x").join(bands.alias("y"), Seq("k", "bandval"))
      .select(col("x.doc_id").as("a"), col("x.h_hi").as("ahi"), col("x.h_lo").as("alo"),
        col("y.doc_id").as("b"), col("y.h_hi").as("bhi"), col("y.h_lo").as("blo"))
      .filter(col("a") < col("b"))
      .distinct()
      .select(col("a"), col("b"),
        (bit_count(col("ahi").bitwiseXOR(col("bhi"))) +
          bit_count(col("alo").bitwiseXOR(col("blo")))).cast("long").as("dist"))
      .filter(col("dist") <= PhashMaxDist)
  }

  /** decode → resample → average-hash, one codec pass per asset */
  private def phashDf(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (hi, lo, total) =
          graft.multimodal.MediaPipeline.aHash(BmpCodec.decode(MediaSynth.bmpFor(d)))
        PhashFeat(d, hi, lo, total)
      })
      .toDF()
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)),
        |    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum,
        |  CAST(1 + octet_length(encode(text)) % 64 AS BIGINT) AS w,
        |  CAST(1 + (octet_length(encode(text)) * 7) % 64 AS BIGINT) AS h
        |FROM documents ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("bytes", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          length(col("bytes")).cast("long").as("n_bytes"),
          expr("aggregate(transform(sequence(1, length(text)), i -> " +
            "CAST(ascii(substring(text, i, 1)) AS BIGINT)), CAST(0 AS BIGINT), " +
            "(a, x) -> a + x)").as("checksum"),
          (lit(1) + length(col("bytes")) % 64).cast("long").as("w"),
          (lit(1) + (length(col("bytes")) * 7) % 64).cast("long").as("h"))
        .orderBy("doc_id")
    },

    // asset-level dedup over the opaque binary payload: exact identity is
    // md5 over the bytes (modality-agnostic — works for any blob), and
    // near-identity is a perceptual-hash stand-in that buckets assets by a
    // quantized content-composition signature (per-class byte histograms —
    // the same bucket-then-verify shape a real pHash/aHash pipeline uses,
    // with the codec-dependent hash swapped out in MediaPipeline). Emits
    // every near-bucket with >= 2 members plus its exact-distinct count,
    // so exact-dup subsets inside a near-bucket are visible.
    GraftQuery("multimodal_dedup",
      """WITH h AS (SELECT doc_id, md5(text) AS xh,
        |    CAST(len(regexp_extract_all(text, '[a-z]')) // 32 AS BIGINT) AS b_alpha,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) // 8 AS BIGINT) AS b_digit,
        |    CAST(len(regexp_extract_all(text, ' ')) // 16 AS BIGINT) AS b_space,
        |    CAST(octet_length(encode(text)) // 64 AS BIGINT) AS b_bytes
        |  FROM documents)
        |SELECT b_alpha, b_digit, b_space, b_bytes,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT xh) AS BIGINT) AS n_exact,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM h GROUP BY b_alpha, b_digit, b_space, b_bytes HAVING count(*) >= 2
        |ORDER BY b_alpha, b_digit, b_space, b_bytes""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("bytes", encode(col("text"), "UTF-8"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("xh"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]', 0)) AS BIGINT) DIV 32").as("b_alpha"),
          expr("CAST(size(regexp_extract_all(text, '[0-9]', 0)) AS BIGINT) DIV 8").as("b_digit"),
          expr("CAST(size(regexp_extract_all(text, ' ', 0)) AS BIGINT) DIV 16").as("b_space"),
          expr("CAST(length(bytes) AS BIGINT) DIV 64").as("b_bytes"))
        .groupBy("b_alpha", "b_digit", "b_space", "b_bytes")
        .agg(count(lit(1)).as("n"), countDistinct(col("xh")).as("n_exact"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .filter(col("n") >= 2)
        .orderBy("b_alpha", "b_digit", "b_space", "b_bytes")
    },

    // frame-sampling schedule: the video analogue of chunk_plan — given
    // per-asset duration/fps metadata (derived deterministically from the
    // payload here; from a container probe in production), emit the
    // 1-frame-per-second sampling plan (sample_idx, ts_ms, native frame
    // number) each decode task executes. The schedule is pure relational
    // fan-out (sequence + explode), so Spark parallelizes per asset and
    // the decoder (MediaPipeline) stays a dumb per-row consumer.
    GraftQuery("multimodal_frame_plan",
      """WITH m AS (SELECT doc_id,
        |    1000 + (octet_length(encode(text)) * 13) % 60000 AS duration_ms,
        |    1 + octet_length(encode(text)) % 30 AS fps
        |  FROM documents),
        |f AS (SELECT doc_id, duration_ms, fps,
        |    unnest(generate_series(0, duration_ms - 1, 1000)) AS ts_ms FROM m)
        |SELECT doc_id, CAST(ts_ms // 1000 AS BIGINT) AS sample_idx,
        |       CAST(ts_ms AS BIGINT) AS ts_ms,
        |       CAST(ts_ms * fps // 1000 AS BIGINT) AS frame_no
        |FROM f ORDER BY doc_id, sample_idx""".stripMargin) { (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("n_bytes", length(encode(col("text"), "UTF-8")).cast("long"))
        .select(col("doc_id"),
          (lit(1000L) + (col("n_bytes") * 13) % 60000).as("duration_ms"),
          (lit(1L) + col("n_bytes") % 30).as("fps"))
        .select(col("doc_id"), col("fps"),
          explode(sequence(lit(0L), col("duration_ms") - 1, lit(1000L))).as("ts_ms"))
        .select(col("doc_id"),
          expr("ts_ms DIV 1000").as("sample_idx"),
          col("ts_ms"),
          expr("ts_ms * fps DIV 1000").as("frame_no"))
        .orderBy("doc_id", "sample_idx")
    },

    // REAL image decode: every image-kind asset is a standard 24-bpp BMP
    // (synthesized from MediaSynth's closed-form pixel function), parsed
    // by BmpCodec — header validation, 4-byte row stride, bottom-up row
    // un-mirroring. The oracle computes the channel sums and the
    // position-weighted luminance checksum DIRECTLY from the closed form:
    // if the decoder mis-handles padding, row order, BGR ordering, or the
    // pixel-data offset, poschk diverges. Per-row decode, no shuffle.
    GraftQuery("multimodal_decode",
      """WITH m AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
        |                  CAST(1 + (doc_id * 3) % 16 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |p AS (SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM m),
        |c AS (SELECT doc_id, w, h, i,
        |             (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256 AS r,
        |             (doc_id * 17 + (i % w) * 11 + (i // w) * 5) % 256 AS g,
        |             (doc_id * 29 + (i % w) * 3 + (i // w) * 19) % 256 AS b
        |      FROM p)
        |SELECT doc_id, w, h,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(b) AS BIGINT) AS sum_b,
        |       CAST(sum((i + 1) * (2 * r + 5 * g + b)) AS BIGINT) AS poschk
        |FROM c GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val dec = BmpCodec.decode(MediaSynth.bmpFor(d))
          var sr = 0L; var sg = 0L; var sb = 0L; var pc = 0L
          var i = 0
          val n = dec.w * dec.h
          while (i < n) {
            val r = dec.rgb(i * 3) & 0xff
            val g = dec.rgb(i * 3 + 1) & 0xff
            val b = dec.rgb(i * 3 + 2) & 0xff
            sr += r; sg += g; sb += b
            pc += (i + 1).toLong * (2 * r + 5 * g + b)
            i += 1
          }
          ImgFeat(d, dec.w.toLong, dec.h.toLong, sr, sg, sb, pc)
        })
        .toDF().orderBy("doc_id")
    },

    // REAL audio decode: audio-kind assets are RIFF/WAVE PCM16 mono,
    // parsed by WavCodec's generic chunk walk (fmt → data, unknown chunks
    // skipped by declared size). sample_rate and n_samples come FROM THE
    // PARSED HEADER; the oracle derives them (and the position-weighted
    // sample checksum) from the closed forms, so a chunk-walk or
    // little-endian/sign bug diverges the hash.
    GraftQuery("multimodal_wav",
      """WITH m AS (SELECT doc_id, CAST(64 + doc_id % 129 AS BIGINT) AS n,
        |                  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS rate
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n, rate, unnest(generate_series(0, n - 1)) AS i FROM m),
        |v AS (SELECT doc_id, n, rate, i,
        |             (doc_id * 7919 + i * 104729) % 65536 - 32768 AS s FROM s)
        |SELECT doc_id, rate AS sample_rate, n AS n_samples,
        |       CAST(sum(s) AS BIGINT) AS sum_s,
        |       CAST(max(abs(s)) AS BIGINT) AS max_abs,
        |       CAST(sum((i + 1) * s) AS BIGINT) AS poschk
        |FROM v GROUP BY doc_id, rate, n ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val dec = WavCodec.decode(MediaSynth.wavFor(d))
          var ss = 0L; var mx = 0L; var pc = 0L
          var i = 0
          while (i < dec.samples.length) {
            val s = dec.samples(i).toLong
            ss += s
            if (math.abs(s) > mx) mx = math.abs(s)
            pc += (i + 1) * s
            i += 1
          }
          WavFeat(d, dec.sampleRate.toLong, dec.samples.length.toLong, ss, mx, pc)
        })
        .toDF().orderBy("doc_id")
    },

    // REAL video frame sampling: video-kind assets are 3 concatenated BMP
    // frames; the walk advances by each frame's OWN declared file size
    // (a real container parse, not fixed-width slicing), keeps every 2nd
    // frame (f = 0, 2), and decodes the kept frames. n_frames is the
    // PARSED frame count — the oracle's literal 3 only matches if the
    // walk framed the stream correctly — and poschk weights each kept
    // frame by (f+1) so frame order and selection are hash-visible.
    GraftQuery("multimodal_video_frames",
      """WITH m AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
        |                  CAST(1 + (doc_id * 3) % 16 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, w, h, unnest([0, 2]) AS f FROM m),
        |p AS (SELECT doc_id, w, h, f, unnest(generate_series(0, w * h - 1)) AS i FROM fr),
        |c AS (SELECT doc_id, w, h, f, i,
        |             (doc_id * 31 + f * 71 + (i % w) * 7 + (i // w) * 13) % 256 AS r,
        |             (doc_id * 17 + f * 43 + (i % w) * 11 + (i // w) * 5) % 256 AS g,
        |             (doc_id * 29 + f * 97 + (i % w) * 3 + (i // w) * 19) % 256 AS b
        |      FROM p)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_frames, w, h,
        |       CAST(sum(2 * r + 5 * g + b) AS BIGINT) AS lum_sum,
        |       CAST(sum((f + 1) * (i + 1) * (2 * r + 5 * g + b)) AS BIGINT) AS poschk
        |FROM c GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val frames = BmpCodec.decodeFrames(MediaSynth.videoFor(d))
          var lumSum = 0L; var pc = 0L
          var w = 0L; var h = 0L
          frames.indices.by(2).foreach { f =>
            val dec = frames(f)
            w = dec.w.toLong; h = dec.h.toLong
            var i = 0
            val n = dec.w * dec.h
            while (i < n) {
              val lum = 2 * (dec.rgb(i * 3) & 0xff) +
                5 * (dec.rgb(i * 3 + 1) & 0xff) + (dec.rgb(i * 3 + 2) & 0xff)
              lumSum += lum
              pc += (f + 1).toLong * (i + 1) * lum
              i += 1
            }
          }
          VideoFeat(d, frames.length.toLong, w, h, lumSum, pc)
        })
        .toDF().orderBy("doc_id")
    },

    // Scene-cut detection over REAL decoded frames: per consecutive frame
    // pair, the sum of absolute per-pixel luminance deltas (SAD — the
    // classic shot-boundary signal), flagged as a cut when the mean
    // per-pixel delta exceeds CutThresh. This is the frame-level dedup /
    // keyframe-selection primitive a video-ingest pipeline runs before
    // sampling frames for embedding: only transitions that ARE cuts spend
    // model budget. One codec pass per asset inside mapPartitions; the
    // oracle replays the synthetic pixel formula closed-form, so a codec
    // or frame-ordering bug shifts the SADs.
    GraftQuery("multimodal_video_cuts",
      s"""WITH m AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
         |                  CAST(1 + (doc_id * 3) % 16 AS BIGINT) AS h
         |           FROM documents WHERE doc_id % 3 = 2),
         |fr AS (SELECT doc_id, w, h, unnest([0, 1]) AS f FROM m),
         |p AS (SELECT doc_id, w, h, f, unnest(generate_series(0, w * h - 1)) AS i FROM fr),
         |c AS (SELECT doc_id, w, h, f, i,
         |   2 * ((doc_id * 31 + f * 71 + (i % w) * 7 + (i // w) * 13) % 256)
         | + 5 * ((doc_id * 17 + f * 43 + (i % w) * 11 + (i // w) * 5) % 256)
         | +     ((doc_id * 29 + f * 97 + (i % w) * 3 + (i // w) * 19) % 256) AS l0,
         |   2 * ((doc_id * 31 + (f + 1) * 71 + (i % w) * 7 + (i // w) * 13) % 256)
         | + 5 * ((doc_id * 17 + (f + 1) * 43 + (i % w) * 11 + (i // w) * 5) % 256)
         | +     ((doc_id * 29 + (f + 1) * 97 + (i % w) * 3 + (i // w) * 19) % 256) AS l1
         |      FROM p)
         |SELECT doc_id, CAST(f AS BIGINT) AS f_from, CAST(w * h AS BIGINT) AS n_px,
         |       CAST(sum(abs(l0 - l1)) AS BIGINT) AS sad,
         |       CAST(sum(abs(l0 - l1)) AS BIGINT) > $CutThresh * w * h AS is_cut
         |FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, f_from""".stripMargin) {
      (spark, sfDir) =>
      import spark.implicits._
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { d =>
          val frames = BmpCodec.decodeFrames(MediaSynth.videoFor(d))
          def lum(fr: Int, i: Int): Long = {
            val dec = frames(fr)
            2L * (dec.rgb(i * 3) & 0xff) + 5L * (dec.rgb(i * 3 + 1) & 0xff) +
              (dec.rgb(i * 3 + 2) & 0xff)
          }
          (0 until frames.length - 1).map { f =>
            val n = frames(f).w * frames(f).h
            var sad = 0L
            var i = 0
            while (i < n) { sad += math.abs(lum(f, i) - lum(f + 1, i)); i += 1 }
            CutFeat(d, f.toLong, n.toLong, sad, sad > CutThresh * n)
          }
        })
        .toDF().orderBy("doc_id", "f_from")
    },

    // REAL perceptual hash: decode → nearest-neighbour resample to 8×8
    // (BmpCodec.resample — the production resize path, now oracled) →
    // average-hash bits (lum·64 > Σlum, integer-exact). The oracle
    // replays the same source-pixel mapping sx = ⌊gx·w/8⌋ closed-form, so
    // a resample rounding or row-order bug flips hash bits. The hash is
    // the bucketing key a perceptual image-dedup pipeline bands on —
    // same shape as dedup_simhash's pigeonhole join.
    GraftQuery("multimodal_phash",
      s"""WITH $PhashCte
        |SELECT hh.doc_id, hh.h_hi, hh.h_lo, t.total AS lum_total
        |FROM hh JOIN t ON t.doc_id = hh.doc_id
        |ORDER BY hh.doc_id""".stripMargin) { (spark, sfDir) =>
      phashDf(spark, sfDir).orderBy("doc_id")
    },

    // Perceptual image near-dup pairs: the phash consumed as a bucketing
    // key. Hamming distance ≤ PhashMaxDist over the 64-bit average-hash
    // via the pigeonhole band join (4 disjoint 16-bit bands: > 3 differing
    // bits cannot avoid all four, so band equality is a COMPLETE candidate
    // filter, not a heuristic) — the image twin of dedup_simhash_pairs.
    // The oracle replays the closed-form hashes with the naive all-pairs
    // comparison, so hash equality proves the banded plan finds exactly
    // the true pair set. At 100 TB the decode+hash stage is per-row
    // mapPartitions work and the join touches only band-colliding rows.
    GraftQuery("multimodal_phash_pairs",
      s"""WITH $PhashCte,
        |d AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |        CAST(bit_count(xor(a.h_hi, b.h_hi))
        |           + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS dist
        |      FROM hh a JOIN hh b ON a.doc_id < b.doc_id)
        |SELECT a, b, dist FROM d WHERE dist <= $PhashMaxDist
        |ORDER BY a, b""".stripMargin) { (spark, sfDir) =>
      phashPairs(spark, sfDir).orderBy("a", "b")
    },

    // Near-dup IMAGE clusters: connected components over the phash
    // pair graph — the asset-level dedup grouping a multimodal pipeline
    // runs after pairing (the image twin of dedup_clusters; same label
    // propagation with localCheckpoint hygiene, same recursive-CTE oracle).
    // Output is one row per asset that participates in any near-dup pair,
    // labeled with its component's minimum doc_id.
    GraftQuery("multimodal_dup_clusters",
      s"""WITH RECURSIVE $PhashCte,
        |d AS (SELECT a.doc_id AS a, b.doc_id AS b
        |      FROM hh a JOIN hh b ON a.doc_id < b.doc_id
        |      WHERE bit_count(xor(a.h_hi, b.h_hi))
        |          + bit_count(xor(a.h_lo, b.h_lo)) <= $PhashMaxDist),
        |edges AS (SELECT a, b FROM d UNION SELECT b, a FROM d),
        |reach(src, dst) AS (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (spark, sfDir) =>
      GraphOps.connectedComponents(phashPairs(spark, sfDir).select("a", "b"))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },

    // Windowed audio analysis over REAL decoded PCM — the audio analogue
    // of video frame sampling: fixed 32-sample windows, per-window energy
    // (Σs²), peak |s|, and zero-crossing count (sign flips vs the
    // previous sample, boundary crossings counted in the later window) —
    // the features a segmentation / silence-detection pass runs before
    // an ASR or audio-embedding stage. One decode + one in-order fold
    // per asset inside mapPartitions; the window fan-out happens at emit,
    // so there is still no shuffle before the feature rows exist.
    GraftQuery("multimodal_audio_windows",
      """WITH m AS (SELECT doc_id, CAST(64 + doc_id % 129 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM m),
        |v AS (SELECT doc_id, i, i // 32 AS win,
        |             (doc_id * 7919 + i * 104729) % 65536 - 32768 AS s,
        |             CASE WHEN i = 0 THEN NULL
        |                  ELSE (doc_id * 7919 + (i - 1) * 104729) % 65536 - 32768
        |             END AS prev
        |      FROM s)
        |SELECT doc_id, win, CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(s * s) AS BIGINT) AS energy,
        |       CAST(max(abs(s)) AS BIGINT) AS max_abs,
        |       CAST(sum(CASE WHEN prev IS NOT NULL AND ((s >= 0) != (prev >= 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM v GROUP BY doc_id, win ORDER BY doc_id, win""".stripMargin) { (spark, sfDir) =>
      import spark.implicits._
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { d =>
          val dec = WavCodec.decode(MediaSynth.wavFor(d))
          val nWin = (dec.samples.length + 31) / 32
          (0 until nWin).map { w =>
            var energy = 0L; var mx = 0L; var zc = 0L; var n = 0L
            var i = w * 32
            val end = math.min(i + 32, dec.samples.length)
            while (i < end) {
              val s = dec.samples(i).toLong
              energy += s * s
              if (math.abs(s) > mx) mx = math.abs(s)
              if (i > 0 && ((s >= 0) != (dec.samples(i - 1) >= 0))) zc += 1
              n += 1
              i += 1
            }
            AudioWin(d, w.toLong, n, energy, mx, zc)
          }
        })
        .toDF().orderBy("doc_id", "win")
    }
  )
}
