package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Entry, Tables}

/** Typed metadata carried alongside an opaque media payload. */
case class MediaMeta(mime: String, width: Int, height: Int, durationMs: Long)

/** One multimodal record: media as an opaque binary column plus
  * typed metadata — the lakehouse-native representation for
  * image/audio/video at 100 TB (payloads stay in parquet binary
  * columns or are pointers into object storage; metadata is
  * columnar and prunable). */
case class MediaRecord(doc_id: Long, modality: String,
                       payload: Array[Byte], meta: MediaMeta)

/** Extracted features for one record. The decoded_* columns are REAL
  * for the formats [[ImageCodec]] (BMP, PPM), [[AudioCodec]]
  * (WAV/PCM16 mono), and [[VideoCodec]] (Y4M) parse;
  * decoded_format = "stub" marks payloads whose codec isn't in this
  * container. Image/video fields (width/height/pixel_crc) are -1
  * for other modalities; audio fields (sample_rate/n_samples) are
  * -1 for non-audio; video fields (n_frames/fps_x1000) are -1 for
  * non-video. `feat` stands in for a model embedding; its
  * computation is the STUB (see decodeBatch). */
case class MediaFeatures(doc_id: Long, modality: String, n_bytes: Int,
                         payload_crc: Long, decoded_format: String,
                         width: Int, height: Int, pixel_crc: Long,
                         sample_rate: Int, n_samples: Int, sample_crc: Long,
                         n_frames: Int, fps_x1000: Int,
                         feat: Array[Float])

/** m33: multimodal binary-column plumbing.
  *
  * The Spark-side mechanics are real and tested: a typed
  * `Dataset[MediaRecord]` with a binary payload column, batched
  * per-partition decoding via `mapPartitions` (the Scala analog of
  * `mapInPandas` — the iterator is processed in fixed-size batches
  * exactly as an Arrow batch UDF would be), and a columnar feature
  * output. The DECODE is real for every uncompressed format
  * parseable without codec libraries: BMP and PPM images via
  * [[ImageCodec]], WAV/PCM16 mono audio via [[AudioCodec]], and Y4M
  * (YUV4MPEG2) video via [[VideoCodec]]. Image rows carry genuine
  * BMP payloads, audio rows genuine WAV payloads, and video rows
  * genuine Y4M payloads, so the pipeline decodes real containers
  * end-to-end (dims/means/pixel-CRC for images, rate/count/RMS/
  * sample-CRC for audio, dims/rate/frame-count/plane-means/frame-CRC
  * for video — spec-pinned). Compressed formats (JPEG/MP3/H.264/…)
  * stay on a clearly-marked deterministic stub, because their
  * codecs don't exist in this container.
  *
  * Scale notes: decoding is a pure per-partition map — no shuffle,
  * scales linearly with executors. Batch size bounds peak memory
  * per task (batch × payload size). At 100 TB, payloads larger than
  * a few MB move out of the row into object-store pointers and the
  * decode step fetches per batch.
  */
object Multimodal {

  val BatchSize = 64

  /** Deterministic BMP payload for an image row: dimensions and
    * pixels are pure functions of doc_id, so every field downstream
    * is reproducible and the spec can recompute them independently. */
  private[multimodal] def syntheticRgb(docId: Long): (Int, Int, Array[Byte]) = {
    val w = 1 + (docId % 8).toInt
    val h = 1 + (docId % 6).toInt
    (w, h, Array.tabulate(3 * w * h)(i => ((docId * 31 + i * 7) % 256).toByte))
  }

  private[multimodal] def syntheticBmp(docId: Long): (Int, Int, Array[Byte]) = {
    val (w, h, rgb) = syntheticRgb(docId)
    (w, h, ImageCodec.encodeBmp(w, h, rgb))
  }

  /** Deterministic WAV payload for an audio row: sample count and
    * PCM values are pure functions of doc_id, so every decoded field
    * is reproducible and the spec can recompute them independently. */
  private[multimodal] def syntheticWav(docId: Long): (Int, Array[Byte]) = {
    val n = 16 + (docId % 64).toInt
    val samples = Array.tabulate(n)(i =>
      ((docId * 131 + i.toLong * i * 7) % 32768).toShort)
    (n, AudioCodec.encodeWav(8000, samples))
  }

  /** Deterministic Y4M payload for a video row: dims (even, for
    * 4:2:0), frame count, and plane bytes are pure functions of
    * doc_id, so every decoded field is reproducible and the spec can
    * recompute them independently. */
  private[multimodal] def syntheticY4m(docId: Long): (Int, Int, Int, Array[Byte]) = {
    val w = 2 * (1 + (docId % 4).toInt)  // 2/4/6/8
    val h = 2 * (1 + (docId % 3).toInt)  // 2/4/6
    val nFrames = 1 + (docId % 5).toInt
    val frameBytes = w * h * 3 / 2
    val frames = (0 until nFrames).map(f =>
      Array.tabulate(frameBytes)(i => ((docId * 17 + f * 59 + i * 13) % 256).toByte))
    (w, h, nFrames, VideoCodec.encodeY4m(w, h, 25, 1, frames))
  }

  /** Deterministic fake media table derived from `documents`:
    * image rows carry a REAL generated BMP payload, audio rows a
    * REAL generated WAV/PCM16 payload, and video rows a REAL
    * generated Y4M payload (all three decoded for real downstream).
    * Modality cycles image/audio/video; metadata is derived from
    * doc_id/length so every field is reproducible. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("payload"),
        struct(
          element_at(array(lit("image/bmp"), lit("audio/wav"), lit("video/y4m")),
            (col("doc_id") % 3 + 1).cast("int")).as("mime"),
          (col("n_chars") % 1920).cast("int").as("width"),
          (col("n_chars") % 1080).cast("int").as("height"),
          (col("n_chars") * 100).as("durationMs")).as("meta"))
      .as[MediaRecord]
      .map { r =>
        r.modality match {
          case "image" =>
            val (w, h, bmp) = syntheticBmp(r.doc_id)
            r.copy(payload = bmp, meta = r.meta.copy(width = w, height = h))
          case "audio" =>
            val (n, wav) = syntheticWav(r.doc_id)
            r.copy(payload = wav,
              meta = r.meta.copy(durationMs = (n * 1000L + 4000) / 8000))
          case _ =>
            val (w, h, nFrames, y4m) = syntheticY4m(r.doc_id)
            r.copy(payload = y4m,
              meta = r.meta.copy(width = w, height = h,
                durationMs = nFrames * 40L)) // 25 fps → 40 ms per frame
        }
      }
  }

  /** Batched decode. REAL for BMP/PPM image payloads ([[ImageCodec]]
    * — header parse, channel means, canonical pixel CRC), WAV/PCM16
    * audio payloads ([[AudioCodec]] — rate, count, RMS, sample CRC),
    * and Y4M video payloads ([[VideoCodec]] — dims, rate, frame
    * count, plane means, frame CRC); STUB for everything else
    * (decoded_format = "stub", -1 fields): the real implementation
    * would decode with a codec library absent from this container.
    * `feat`'s 8-dim strided-byte-sum projection stands in for a
    * model embedding on ALL rows — deterministic, so tests pin exact
    * values. The *signature and batch shape* are the contract either
    * way. */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val crc = new java.util.zip.CRC32()
      crc.update(r.payload)
      val feat = Array.tabulate(8) { j =>
        var s = 0L
        var i = j
        while (i < r.payload.length) { s += r.payload(i) & 0xff; i += 8 }
        s.toFloat / math.max(r.payload.length, 1)
      }
      // gate on modality, don't sniff every payload: a payload whose
      // leading bytes happen to spell another container's magic must
      // stay on ITS modality's decoder (or the stub), preserving the
      // wrong-modality → stub contract
      def stub = MediaFeatures(r.doc_id, r.modality, r.payload.length,
        crc.getValue, "stub", -1, -1, -1L, -1, -1, -1L, -1, -1, feat)
      r.modality match {
        case "image" =>
          ImageCodec.decode(r.payload).fold(stub)(img =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              crc.getValue, img.format, img.width, img.height,
              img.pixelCrc, -1, -1, -1L, -1, -1, feat))
        case "audio" =>
          AudioCodec.decode(r.payload).fold(stub)(a =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              crc.getValue, a.format, -1, -1, -1L,
              a.sampleRate, a.nSamples, a.sampleCrc, -1, -1, feat))
        case "video" =>
          VideoCodec.decode(r.payload).fold(stub)(v =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              crc.getValue, v.format, v.width, v.height, v.frameCrc,
              -1, -1, -1L, v.nFrames,
              (v.fpsNum.toLong * 1000 / v.fpsDen).toInt, feat))
        case _ => stub
      }
    }

  /** Batched per-partition decode: iterator → fixed-size batches →
    * decode → flat iterator (mapInPandas-shaped, typed). */
  def decodeFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(BatchSize).flatMap(decodeBatch))
  }

  /** m33 queries entry: features for every media record. The typed
    * API keeps `feat: Array[Float]`; the driver-facing frame renders
    * it as JSON because the driver's pandas compare can't sort/hash
    * array cells (an array column crashes the compare). */
  def m33Multimodal(s: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaTable(s, dir)).toDF()
      .withColumn("feat", to_json(col("feat")))

  /** m33b: m33's decoded-metadata rollup oracle-checked (the
    * m34b/m35b split applied to the DECODE itself): the
    * codec walk is JVM work no SQL engine replays, but every media
    * payload here is generated from doc_id by closed-form rules
    * ([[syntheticBmp]]/[[syntheticWav]]/[[syntheticY4m]]), so what a
    * CORRECT decode must recover — formats, dimensions, sample
    * rates/counts, frame counts, fps, container byte sizes — is
    * computable from doc_id arithmetic alone. m33b rolls the decoded
    * features up per (modality, decoded_format) on the Spark side by
    * actually PARSING the real BMP/WAV/Y4M containers, while DuckDB
    * recomputes the same rollup from the generative formulas
    * (BMP = 54 + stride·h with 4-byte row padding; WAV = 44 + 2n;
    * Y4M = 35-byte header + frames·(6 + w·h·3/2) — single-digit dims
    * keep the header length constant). Any header-parse drift
    * (endianness, offset, stride) breaks the hash. The honest gap
    * stays honest: payload/pixel/sample CRCs and the feat projection
    * remain JVM-only (m33 rows-only), exactly the part with no
    * closed form. */
  def m33bDecodeOracle(s: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaTable(s, dir)).toDF()
      .groupBy("modality", "decoded_format")
      .agg(count(lit(1)).as("n"),
        sum("n_bytes").as("bytes"),
        sum("width").as("w_sum"), sum("height").as("h_sum"),
        sum("sample_rate").as("rate_sum"), sum("n_samples").as("samp_sum"),
        sum("n_frames").as("frame_sum"), sum("fps_x1000").as("fps_sum"))
      .orderBy("modality")

  /** DuckDB oracle for m33b: the same rollup from the generative
    * formulas (decode must recover exactly what synthesis wrote;
    * -1 sentinels for a modality's absent fields sum to -n, same as
    * the Spark side's). */
  val m33bSql: String =
    """WITH m AS (
      | SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |   WHEN 1 THEN 'audio' ELSE 'video' END AS modality
      | FROM documents)
      |SELECT modality,
      | CASE modality WHEN 'image' THEN 'bmp'
      |  WHEN 'audio' THEN 'wav' ELSE 'y4m' END AS decoded_format,
      | count(*) AS n,
      | CAST(sum(CASE modality
      |  WHEN 'image' THEN 54 + ((3 * (1 + doc_id % 8) + 3) // 4) * 4 * (1 + doc_id % 6)
      |  WHEN 'audio' THEN 44 + 2 * (16 + doc_id % 64)
      |  ELSE 35 + (1 + doc_id % 5) *
      |       (6 + (2 * (1 + doc_id % 4)) * (2 * (1 + doc_id % 3)) * 3 // 2)
      |  END) AS BIGINT) AS bytes,
      | CAST(sum(CASE modality WHEN 'image' THEN 1 + doc_id % 8
      |  WHEN 'video' THEN 2 * (1 + doc_id % 4) ELSE -1 END) AS BIGINT) AS w_sum,
      | CAST(sum(CASE modality WHEN 'image' THEN 1 + doc_id % 6
      |  WHEN 'video' THEN 2 * (1 + doc_id % 3) ELSE -1 END) AS BIGINT) AS h_sum,
      | CAST(sum(CASE modality WHEN 'audio' THEN 8000 ELSE -1 END) AS BIGINT) AS rate_sum,
      | CAST(sum(CASE modality WHEN 'audio' THEN 16 + doc_id % 64 ELSE -1 END) AS BIGINT) AS samp_sum,
      | CAST(sum(CASE modality WHEN 'video' THEN 1 + doc_id % 5 ELSE -1 END) AS BIGINT) AS frame_sum,
      | CAST(sum(CASE modality WHEN 'video' THEN 25000 ELSE -1 END) AS BIGINT) AS fps_sum
      |FROM m GROUP BY 1, 2 ORDER BY modality""".stripMargin

  /** STUB resize — the real implementation decodes, scales with a
    * codec, re-encodes. Here: deterministic byte truncation scaled
    * by target area, with metadata rewritten. The contract (typed
    * in/out, pure projection, metadata stays consistent with
    * payload) is what downstream code depends on. */
  def resize(ds: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      if (r.modality != "image") r
      else {
        val srcArea = math.max(r.meta.width * r.meta.height, 1)
        val frac = math.min(1.0, (w.toLong * h).toDouble / srcArea)
        val n = math.max(1, (r.payload.length * frac).toInt)
        r.copy(
          payload = r.payload.take(n),
          meta = r.meta.copy(width = w, height = h))
      }
    }
  }

  /** One sampled frame of a video payload. */
  case class Frame(doc_id: Long, frame_idx: Int, frame_ms: Long,
                   frame_payload: Array[Byte])

  /** Frame sampling. REAL for Y4M payloads: the container is walked
    * frame-by-frame ([[VideoCodec.frames]]) and every `everyMs` of
    * stream time the nearest actual frame is emitted with its raw
    * planar payload and true presentation timestamp. STUB for
    * unparseable containers (real impl would seek with a codec):
    * one frame per `everyMs` of metadata duration, payload sliced
    * deterministically. Row explosion (1 video → N frames) and
    * ordering are the contract either way; no shuffle in any case. */
  def sampleFrames(ds: Dataset[MediaRecord], everyMs: Long): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.filter(_.modality == "video").flatMap { r =>
      val real = for {
        hdr  <- VideoCodec.parseHeader(r.payload)
        offs <- VideoCodec.frameOffsets(r.payload, hdr)
      } yield {
        // the frame showing at tick i·everyMs is floor(t · fps),
        // computed PER TICK in Long arithmetic: a constant integer
        // step drifts off the tick grid whenever frames-per-tick is
        // non-integer (NTSC 30000/1001 accumulates ~a frame per
        // tick), and a truncated step can hit zero on a crafted
        // header. Sub-frame-interval ticks collapse onto the same
        // frame → emitted once. Negative fi (Long overflow on an
        // absurd header × everyMs) terminates the walk.
        val fis = Iterator.from(0)
          .map(i => i.toLong * everyMs * hdr.fpsNum / (1000L * hdr.fpsDen))
          .takeWhile(fi => fi >= 0 && fi < offs.length)
          .toSeq.distinct
        // copy ONLY the sampled frames' bytes — the walk touches
        // offsets, never the skipped frames' payloads
        fis.zipWithIndex.map { case (fi, i) =>
          val off = offs(fi.toInt)
          Frame(r.doc_id, i, VideoCodec.frameMs(fi.toInt, hdr.fpsNum, hdr.fpsDen),
            java.util.Arrays.copyOfRange(r.payload, off, off + hdr.frameBytes))
        }
      }
      real.getOrElse {
        // stub slicing for unparseable containers AND header-valid/
        // body-corrupt payloads — a video never silently vanishes
        // from the sampled output
        val n = math.max(1, (r.meta.durationMs / everyMs).toInt)
        val chunk = math.max(1, r.payload.length / n)
        (0 until n).map { i =>
          Frame(r.doc_id, i, i * everyMs,
            r.payload.slice(i * chunk, math.min((i + 1) * chunk, r.payload.length)))
        }
      }
    }
  }

  /** m34's content-id modulus: payload CONTENT derives from
    * doc_id % this, so distinct doc_ids deliberately carry duplicate
    * content (the t43 planting stance — the base corpus has no
    * natural media duplicates, and a dedup gate that matches nothing
    * is vacuous). 193 gives groups of 2–3 at the test SFs. */
  private[multimodal] val m34ContentMod = 193L

  /** m34's corpus: the m33 media table with PLANTED duplicate
    * content. Content (pixels / PCM samples / frames) is a function
    * of content_id = doc_id % [[m34ContentMod]]; modality follows
    * content_id so duplicates share a modality. Image rows
    * additionally ALTERNATE CONTAINERS — the same pixels encode as
    * BMP or PPM by (doc_id / mod) parity — so byte-level hashing
    * (d22's shape, m33's payload_crc) would MISS those pairs: only
    * the decoded, format-independent content identity finds them. */
  private[graft] def mediaTableWithDups(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val cid = r.doc_id % m34ContentMod
      (cid % 3).toInt match {
        case 0 =>
          val (w, h, rgb) = syntheticRgb(cid)
          val payload =
            if ((r.doc_id / m34ContentMod) % 2 == 0) ImageCodec.encodeBmp(w, h, rgb)
            else ImageCodec.encodePpm(w, h, rgb)
          r.copy(modality = "image", payload = payload,
            meta = r.meta.copy(mime = "image/*", width = w, height = h))
        case 1 =>
          val (n, wav) = syntheticWav(cid)
          r.copy(modality = "audio", payload = wav,
            meta = r.meta.copy(mime = "audio/wav",
              durationMs = (n * 1000L + 4000) / 8000))
        case _ =>
          val (w, h, nFrames, y4m) = syntheticY4m(cid)
          r.copy(modality = "video", payload = y4m,
            meta = r.meta.copy(mime = "video/y4m", width = w, height = h,
              durationMs = nFrames * 40L))
      }
    }
  }

  /** m34: content-addressed media dedup — the d22 hash-groupBy idea
    * applied to what the payload DECODES TO, not its bytes. The
    * content key is the modality's decoded CRC (pixel_crc /
    * sample_crc / frame_crc), which [[ImageCodec]] computes
    * format-independently: a BMP and a PPM of the same pixels — and
    * at 100 TB, the same image re-encoded by different crawlers —
    * share a key while their byte hashes differ. Keep-min per
    * (modality, content) group, group size reported.
    *
    * Scale shape: decode is the m33 per-partition batched map (no
    * shuffle); the dedup is ONE window over (modality, content_crc)
    * — equivalently a groupBy — on an 8-byte key per row, d22's
    * uniform-key single exchange. Rows-only entry (payloads are
    * JVM-encoded containers no SQL engine can replay); the spec pins
    * planted group structure, cross-container capture, and keep-min
    * selection. */
  def m34MediaDedup(s: SparkSession, dir: String): DataFrame = {
    val feats = decodeFeatures(mediaTableWithDups(s, dir)).toDF()
    // content key per modality: audio's is sample_crc; image and
    // video share the pixel_crc field (the video frame-CRC lands
    // there — see decodeBatch), and modality is part of the group
    // key so the two can never cross-match
    m34KeepMin(feats.select(
      col("doc_id"), col("modality"), col("decoded_format"),
      when(col("modality") === "audio", col("sample_crc"))
        .otherwise(col("pixel_crc")).as("content_crc")))
  }

  /** The ONE keep-min body behind content-addressed media dedup —
    * m34 feeds it decoded CRCs (JVM work), m34b feeds it literal
    * keys (dialect-replayable), so the dedup rule itself cannot
    * drift between the rows-only entry and its oracle gate. */
  private[graft] def m34KeepMin(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy("modality", "content_crc")
    keyed
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  /** m34b's dual-dialect literal key table: 120 docs, modality from
    * doc_id mod 3, content key the house 60-bit md5 of
    * (modality, (doc_id div 3) mod 13) — 13 planted groups of 3–4
    * docs per modality, so keep-min and group sizes are exercised on
    * multi-member groups in BOTH engines from byte-identical
    * input (the m35b literal-hash stance). */
  private[graft] def m34bKeyLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 120)
      .withColumn("modality", expr(
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"))
      .withColumn("decoded_format", lit("literal"))
      .withColumn("content_crc", expr(
        "cast(conv(substring(md5(concat(cast(doc_id % 3 as string), ':', " +
          "cast((doc_id div 3) % 13 as string))), 1, 15), 16, 10) as bigint)"))
      .select("doc_id", "modality", "decoded_format", "content_crc")

  /** m34b: m34's keep-min dedup oracle-checked — the m35b split
    * applied one entry earlier: m34 stays rows-only because its
    * content keys are decoded CRCs (JVM container work), but
    * everything downstream of the key is relational, so m34b routes
    * a dialect-replayable literal key table through the VERY SAME
    * [[m34KeepMin]] body and DuckDB replays grouping, group sizes,
    * and keep-min selection byte-exactly. This closes the weakest
    * remaining rows-only m-entry's relational tail. */
  def m34bDedupOracle(s: SparkSession, dir: String): DataFrame =
    m34KeepMin(m34bKeyLiterals(s, dir))

  /** DuckDB oracle for m34b: identical literal keys, identical
    * keep-min window arithmetic. */
  val m34bSql: String =
    """WITH k AS (
      | SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |   ELSE 'video' END AS modality,
      |  'literal' AS decoded_format,
      |  CAST(('0x' || substr(md5(CAST(doc_id % 3 AS VARCHAR) || ':' ||
      |    CAST((doc_id // 3) % 13 AS VARCHAR)), 1, 15)) AS BIGINT) AS content_crc
      | FROM documents WHERE doc_id < 120)
      |SELECT doc_id, modality, decoded_format, content_crc,
      | count(*) OVER (PARTITION BY modality, content_crc) AS group_size,
      | doc_id = min(doc_id) OVER (PARTITION BY modality, content_crc) AS keep
      |FROM k ORDER BY doc_id""".stripMargin

  /** m35 content-group modulus and the planted variant scheme. */
  private[graft] val m35ContentMod = 40L

  /** Bounded-channel pixels (0..199) so the +4 brightness variant
    * can never wrap a byte — wrapping would invert a gradient and
    * break the invariance the spec pins. Sized ≥ the 9×8 dHash grid
    * so downsampling is real, not degenerate upsampling. */
  private[graft] def m35Rgb(cid: Long, bright: Int): (Int, Int, Array[Byte]) = {
    val w = 9 + (cid % 8).toInt
    val h = 8 + (cid % 5).toInt
    (w, h, Array.tabulate(3 * w * h)(i =>
      (((cid * 31 + i * 7) % 200 + bright).toByte)))
  }

  /** Image table with planted PERCEPTUAL near-duplicates: each
    * content id appears as (variant 0) a BMP, (variant 1) the same
    * pixels as PPM — the m34 cross-container case — and (variant 2)
    * a BMP with every channel shifted +4: different bytes, different
    * pixel CRC (m34's key misses it), same gradients (m35's key
    * catches it). */
  private[graft] def mediaTableNearImages(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val cid = r.doc_id % m35ContentMod
      val variant = (r.doc_id / m35ContentMod) % 3
      val (w, h, rgb) = m35Rgb(cid, if (variant == 2) 4 else 0)
      val payload =
        if (variant == 1) ImageCodec.encodePpm(w, h, rgb)
        else ImageCodec.encodeBmp(w, h, rgb)
      r.copy(modality = "image", payload = payload,
        meta = r.meta.copy(mime = "image/*", width = w, height = h))
    }
  }

  /** m35: perceptual image near-dup — the d24 SimHash pipeline
    * applied to PIXELS instead of text: per-partition batched decode
    * → canonical 64-bit dHash ([[ImageCodec.dHashOf]]: 9×8
    * grayscale-gradient grid, container-independent AND
    * brightness-shift-invariant, which is exactly what m34's
    * decoded-content CRC cannot give — a re-encoded, slightly
    * re-leveled crawl image changes every byte and the CRC but not
    * its gradients), then 4×16-bit band equi-join (pigeonhole: any
    * pair within Hamming ≤ 3 shares at least one intact band),
    * first-equal-band uniqueness (the d23 stance — no pair-dedup
    * shuffle), and an exact popcount verify on the 64-bit hashes.
    *
    * Scale shape: decode+hash is the m33 per-partition map (zero
    * shuffle, 8 bytes of hash per image cross the wire — not
    * pixels); candidates are a bucketed equi-join on (band, chunk),
    * never all-pairs; the verify is one codegen'd xor+bit_count per
    * candidate. Rows-only entry (payloads are JVM-encoded containers
    * no SQL engine can decode); MultimodalSpec pins the planted
    * group structure, the brightness-invariance capture, and the
    * pigeonhole soundness. */
  /** The decoded-and-hashed image stream — ONE definition shared by
    * m35's pair finder and m36's closure (vertex set), so the two
    * cannot disagree about which images participate. Decode failure
    * carries through as a true NULL, not a sentinel: -1L (all 64
    * gradient bits set) is a LEGAL dHash — e.g. a horizontal
    * brightness ramp strictly increasing at every grid position —
    * and a sentinel would silently drop such images from near-dup
    * detection. */
  private[graft] def m35Hashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTableNearImages(s, dir)
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map(r =>
        (r.doc_id,
          ImageCodec.decodeDHash(r.payload)
            .map(java.lang.Long.valueOf).orNull))))
      .toDF("doc_id", "dhash")
      .filter(col("dhash").isNotNull)
  }

  def m35MediaNeardup(s: SparkSession, dir: String): DataFrame =
    m35PairsFromHashes(m35Hashes(s, dir))

  /** First index (0–3) of an equal 16-bit band between hash_a and
    * hash_b — the exactly-once emission filter shared by every
    * banded Hamming join (m35 image pairs, m38 audio pairs, m39's
    * cross-modal thumbnail join). */
  private val firstEqualBandSql: String =
    """CASE WHEN (hash_a & 65535) = (hash_b & 65535) THEN 0
      |     WHEN (shiftright(hash_a, 16) & 65535) = (shiftright(hash_b, 16) & 65535) THEN 1
      |     WHEN (shiftright(hash_a, 32) & 65535) = (shiftright(hash_b, 32) & 65535) THEN 2
      |     ELSE 3 END""".stripMargin

  /** m35's band join + popcount verify over a caller-supplied hash
    * stream, so m36 can feed ONE (persisted) decode pass to both its
    * vertex set and its edge finder instead of decoding the corpus
    * twice. */
  private[graft] def m35PairsFromHashes(hashes: DataFrame): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("dhash"),
      explode(expr(
        """transform(sequence(0, 3), i ->
          |  struct(i AS band, shiftright(dhash, 16 * i) & 65535 AS chunk))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("dhash"),
        col("b.band").as("band"), col("b.chunk").as("chunk"))
    val a = banded.select(col("band"), col("chunk"),
      col("doc_id").as("doc_a"), col("dhash").as("hash_a"))
    val b = banded.select(col("band"), col("chunk"),
      col("doc_id").as("doc_b"), col("dhash").as("hash_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      // first-equal-band: emit each pair from exactly ONE band — a
      // pure projection filter on the two hashes, no distinct shuffle
      .filter(col("band") === expr(firstEqualBandSql))
      .withColumn("hamming", expr("bit_count(hash_a ^ hash_b)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** m36: media dedup closure — m35 verifies Hamming ≤ 3 PAIRS but a
    * pair list is not a dedup decision: near-dup is not transitive,
    * so variants chain (A~B, B~C with A‖C) and only the connected-
    * component closure turns the pair graph into keep/drop sets —
    * exactly what d32 does for d28's embedding pairs, applied to the
    * perceptual image graph. Vertices are the DECODED images
    * ([[m35Hashes]] — the same definition m35's finder uses, so an
    * undecodable image is neither a vertex nor an edge endpoint);
    * edges are m35's verified pairs; the closure is the shared
    * [[graft.dedup.Dedup.connectedComponents]] large-star/small-star
    * iteration (O(log n) rounds, plan-cut between rounds), and keep
    * = min doc_id per component (the m34/d32 stance).
    *
    * Scale shape: the pair graph is sparse (m35's banded candidates,
    * never all-pairs); each CC round is two self-joins on an 8-byte
    * key — the d27 machinery unchanged, so the 100 TB story (bounded
    * rounds, checkpointed lineage, skew-tolerant star steps) carries
    * over verbatim. Rows-only entry (JVM decode is not SQL-
    * replayable); MultimodalSpec proves the closure property against
    * an independent in-test union-find over m35's own pairs and the
    * planted-variant grouping (BMP / PPM / +4-brightness collapse to
    * one keeper). */
  def m36MediaDedupClosure(s: SparkSession, dir: String): DataFrame = {
    // ONE decode pass feeds both the vertex set and the edge finder
    // (the JVM decode is the expensive stage); persisted — 16 bytes
    // per image — and left to the ContextCleaner because the RETURNED
    // labels plan still reads the vertex side lazily
    val hashes = m35Hashes(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verts = hashes.select(col("doc_id").as("id"))
    val edges = m35PairsFromHashes(hashes)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.dedup.Dedup.connectedComponents(verts, edges)
      .select(col("id").as("doc_id"), col("component").as("component_id"),
        (col("id") === col("component")).as("keep"))
    // no presentation sort: production path (d27/d32 precedent) —
    // the driver compare sorts rows itself
  }

  /** murmur3 finalizer — the planted-variant generators' mixing
    * primitive (m37 luma, m38 window amplitudes): full avalanche, so
    * different content ids' perceptual patterns are decorrelated. */
  private[graft] def avalanche(x: Long): Long = {
    var z = x
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33; z
  }

  /** m37 content-group modulus; variants: 0 the original clip, 1 the
    * same luma under shifted CHROMA (a re-tinted re-encode — every
    * byte and the frame CRC change, the luma gradients don't), 2 the
    * luma plane +4 brightness (m35's variant, per frame). */
  private[graft] val m37ContentMod = 30L

  /** Planar 4:2:0 YUV frames for a clip: luma carries the cid's
    * gradient pattern bounded to 0..199 (so +4 never wraps a byte —
    * the m35Rgb stance), chroma a second bounded pattern (so the
    * +17 tint never wraps). Dims even (4:2:0) and ≥ the 9×8 dHash
    * grid; 3–6 frames so the 80 ms sampler keeps ≥ 2 per clip. */
  private[graft] def m37Planes(cid: Long, yBright: Int, cShift: Int)
      : (Int, Int, Seq[Array[Byte]]) = {
    val w = 10 + 2 * (cid % 4).toInt
    val h = 8 + 2 * (cid % 3).toInt
    val nF = 3 + (cid % 4).toInt
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    // avalanche-mixed luma, NOT the m35Rgb linear ramp: any pattern
    // AFFINE in pixel position keeps the same gradient-sign
    // sequence across cids up to wrap offsets (a smoke run found
    // 13k cross-group Hamming-≤3 frame collisions, and a
    // multiplicative post-scale is still affine), while avalanched
    // luma is independent pseudo-random per (cid, frame, pixel) —
    // cross-cid hashes sit at Hamming ≈ 32 and only true variants
    // collide
    def mix(plane: Long, f: Long, pos: Long): Long =
      Math.floorMod(avalanche((cid << 42) ^ (plane << 40) ^ (f << 20) ^ pos), 200L)
    val frames = (0 until nF).map { f =>
      val b = new Array[Byte](ySize + 2 * cSize)
      var i = 0
      while (i < ySize) {
        b(i) = (mix(0L, f, i) + yBright).toByte; i += 1
      }
      var j = 0
      while (j < 2 * cSize) {
        b(ySize + j) = (mix(1L, f, j) + cShift).toByte; j += 1
      }
      b
    }
    (w, h, frames)
  }

  /** Clip table with planted PERCEPTUAL near-duplicate videos: each
    * content id appears as the original, a re-tinted copy (chroma
    * shifted — m34's content CRC misses it, the luma dHash doesn't),
    * and a brightness-shifted copy (the m35 case, per frame). */
  private[graft] def mediaTableNearClips(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val cid = r.doc_id % m37ContentMod
      val variant = (r.doc_id / m37ContentMod) % 3
      val (w, h, frames) = m37Planes(cid,
        if (variant == 2) 4 else 0, if (variant == 1) 17 else 0)
      r.copy(modality = "video",
        payload = VideoCodec.encodeY4m(w, h, 25, 1, frames),
        meta = r.meta.copy(mime = "video/y4m", width = w, height = h,
          durationMs = frames.length * 40L))
    }
  }

  /** m37: perceptual VIDEO near-dup — m35's dHash pipeline lifted to
    * clips: frames are sampled on the REAL container walk (the
    * shared [[sampleFrames]] 80 ms tick grid — every other frame at
    * 25 fps; production tunes the tick, the walk copies only sampled
    * frames), each sampled frame's LUMA plane is hashed with the
    * SAME 9×8 gradient grid as the image path
    * ([[ImageCodec.grayDHash]] — chroma excluded, so a re-tinted
    * re-encode hashes identically), candidates come from a banded
    * equi-join requiring the same 16-bit hash chunk at the SAME
    * sampled frame index (the m35 bands, aligned in time), and the
    * verify attaches both clips' full frame-hash signatures and
    * requires ≥ half the aligned frames within Hamming ≤ 3.
    *
    * Scale shape: decode + hash is a per-partition map (8 bytes per
    * sampled frame cross the wire, never pixels); the band join is
    * a bucketed equi-join on (frame_idx, band, chunk); candidates
    * then distinct — a pair-keyed shuffle of the SPARSE collision
    * stream, not all-pairs (unlike m35's single-hash rows a clip
    * pair can collide on several frames, so first-equal-band can't
    * dedup it for free); signatures are a per-clip bounded
    * collect_list (sampled-frame count, not corpus) and the ratio
    * verify is one codegen'd zip_with over two short arrays.
    * Rows-only (JVM container walk isn't SQL-replayable);
    * MultimodalSpec proves planted-group completeness, tint AND
    * brightness invariance (frame CRCs differ, luma dHashes equal),
    * alignment, and exactly-once pair emission. */
  /** The sampled-frame luma-hash stream (doc_id, frame_idx, fhash) —
    * ONE definition shared by m37's pair finder and m39's
    * cross-modal thumbnail join, so the two cannot disagree on
    * sampling or hashing. */
  private[graft] def m37FrameHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clips = mediaTableNearClips(s, dir)
    val dims = clips.map(r => (r.doc_id, r.meta.width, r.meta.height))
      .toDF("doc_id", "w", "h")
    sampleFrames(clips, 80L).toDF()
      .join(dims, "doc_id")
      .select("doc_id", "frame_idx", "w", "h", "frame_payload")
      .as[(Long, Int, Int, Int, Array[Byte])]
      .flatMap { case (id, fi, w, h, p) =>
        ImageCodec.grayDHash(w, h, p).map(hsh => (id, fi, hsh)) }
      .toDF("doc_id", "frame_idx", "fhash")
  }

  def m37VideoNeardup(s: SparkSession, dir: String): DataFrame = {
    // The frame-hash stream has THREE consumers inside the pair
    // finder (both banded self-join sides + the per-doc signature
    // rollup), and its upstream is the expensive part — synthetic
    // clip encode, frame sampling, per-frame dHash, all in the scan
    // stage. Unpersisted, each consumer re-ran that chain (and the
    // three stages race as independent children of the final action,
    // so even a lazy persist recomputes cold — the d51/d53 lesson).
    // Persist + eager count = ONE decode pass per invocation,
    // recomputed from parquet every pass; rows unchanged.
    val fh = m37FrameHashes(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fh.count()
    m37PairsFromFrameHashes(fh)
  }

  /** m37's whole downstream — frame-aligned banding, candidate
    * distinct, signature attach, zip_with ratio verify — as ONE
    * function of the (doc_id, frame_idx, fhash) stream, shared by
    * the production pair finder and m37b's oracle-checked literal
    * run (the m35/m35b split), so the banded-join layout and the
    * ≥ 0.5 ratio rule cannot drift between them. */
  private[graft] def m37PairsFromFrameHashes(fhash: DataFrame): DataFrame = {
    val banded = fhash.select(col("doc_id"), col("frame_idx"),
      explode(expr(
        """transform(sequence(0, 3), i ->
          |  struct(i AS band, shiftright(fhash, 16 * i) & 65535 AS chunk))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("frame_idx"),
        col("b.band").as("band"), col("b.chunk").as("chunk"))
    val cands = banded.select(col("frame_idx"), col("band"), col("chunk"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("frame_idx"), col("band"), col("chunk"),
        col("doc_id").as("doc_b")), Seq("frame_idx", "band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sigs = fhash.groupBy("doc_id").agg(expr(
      "transform(array_sort(collect_list(struct(frame_idx, fhash))), s -> s.fhash)")
      .as("hs"))
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("matched_frames", expr(
        "size(filter(zip_with(hs_a, hs_b, (p, q) -> bit_count(p ^ q) <= 3), x -> x))"))
      .withColumn("total_frames", greatest(size(col("hs_a")), size(col("hs_b"))))
      .withColumn("match_ratio",
        round(col("matched_frames").cast("double") / col("total_frames"), 4))
      .filter(col("match_ratio") >= 0.5)
      .select("doc_a", "doc_b", "matched_frames", "total_frames", "match_ratio")
      .orderBy("doc_a", "doc_b")
  }

  /** m38 content-group modulus; variants: 0 the original clip, 1 a
    * −6 dB GAIN copy (every amplitude exactly halved — amplitudes
    * are even by construction, so the halving is lossless and every
    * window energy scales by exactly ¼), 2 a +4 DC-offset copy
    * (window sample sums cancel — alternating ±A over even-length
    * windows — so each window's energy grows by the same 16·L and
    * energy DELTAS are untouched). Both change every byte and the
    * sample CRC; neither changes an energy-delta sign. */
  private[graft] val m38ContentMod = 25L

  /** Square-wave sample stream for a clip: 65 windows of even
    * length L, window w at avalanche-derived even amplitude A_w
    * (alternating ±A_w), so adjacent-window energy comparisons are
    * pseudo-random per content id and exactly invariant under the
    * two planted edits. */
  private[graft] def m38Samples(cid: Long, gainShift: Int,
      dcOffset: Int): Array[Short] = {
    val l = 8 + 2 * (cid % 4).toInt
    Array.tabulate(65 * l) { i =>
      val w = i / l
      val a = (64 + 2 * Math.floorMod(avalanche((cid << 20) ^ w), 48).toInt) >> gainShift
      ((if (i % 2 == 0) a else -a) + dcOffset).toShort
    }
  }

  /** Audio table with planted PERCEPTUAL near-duplicates: each
    * content id appears as the original, a −6 dB copy, and a
    * DC-shifted copy — the two edits an amplitude-level CRC key
    * (m34) can never survive and an energy-delta hash must. */
  private[graft] def mediaTableNearAudio(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val cid = r.doc_id % m38ContentMod
      val variant = (r.doc_id / m38ContentMod) % 3
      val samples = m38Samples(cid,
        if (variant == 1) 1 else 0, if (variant == 2) 4 else 0)
      r.copy(modality = "audio", payload = AudioCodec.encodeWav(8000, samples),
        meta = r.meta.copy(mime = "audio/wav", width = 0, height = 0,
          durationMs = (samples.length * 1000L + 4000) / 8000))
    }
  }

  /** m38: perceptual AUDIO near-dup — the m35/m37 stance for the
    * third modality: per-partition batched decode to a 64-bit
    * energy-difference fingerprint ([[AudioCodec.energyDHash]] —
    * 65 floor-division windows, exact integer Σs² energies, bit =
    * next window strictly louder; gain- and DC-invariant where
    * m34's sample CRC is brittle), then EXACTLY m35's banded
    * Hamming machinery ([[m35PairsFromHashes]] — one 4×16-bit band
    * join + popcount verify shared by image and audio, so the two
    * modalities cannot drift). Scale shape identical to m35: zero
    * shuffle before banding, 8 hash bytes per clip cross the wire,
    * bucketed band equi-join, codegen'd xor verify. Rows-only (JVM
    * container walk isn't SQL-replayable); MultimodalSpec proves
    * planted-group completeness, gain and DC invariance on concrete
    * payloads (CRCs diverge, fingerprints don't), and exactly-once
    * pair emission. */
  def m38AudioNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = mediaTableNearAudio(s, dir)
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map(r =>
        (r.doc_id,
          AudioCodec.energyDHash(r.payload)
            .map(java.lang.Long.valueOf).orNull))))
      .toDF("doc_id", "dhash")
      .filter(col("dhash").isNotNull)
    m35PairsFromHashes(hashes)
  }

  // ---- m38b: the energy→dHash→band stage oracle-checked ----

  /** m38b's literal window-ENERGY table: 75 docs = 25 content groups
    * ([[m38ContentMod]]) × 3 variants, 64 windows each. Base window
    * energy = 4·h(cid,w) with h an md5-derived positive 28-bit
    * integer; variant 1 divides every energy by exactly 4 (the −6 dB
    * law: halving even samples scales Σs² by exactly ¼ — here exact
    * because energies are constructed as multiples of 4) and variant
    * 2 adds the constant 160 to every window (the DC law: a constant
    * offset over alternating ±A windows shifts every window energy
    * equally). Both transforms preserve every energy-delta SIGN, so
    * all three variants must hash identically — m38's invariance
    * claim, restated as a relational theorem DuckDB can replay. */
  private[graft] def m38bEnergyLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 3 * m38ContentMod)
      .withColumn("cid", col("doc_id") % m38ContentMod)
      .withColumn("variant", expr(s"(doc_id div $m38ContentMod) % 3"))
      .withColumn("w", explode(expr("sequence(0, 63)")))
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('e', cid, ':', w)), 1, 7), 16, 10) as bigint)"))
      .select(col("doc_id"), col("w"), expr(
        """CASE WHEN variant = 1 THEN h
          |     WHEN variant = 2 THEN h * 4 + 160
          |     ELSE h * 4 END""".stripMargin).as("energy"))

  /** The RELATIONAL energy-delta hash — [[AudioCodec.energyDHash]]'s
    * bit law (bit w set iff window w+1 is strictly louder than
    * window w) expressed as lead() + a shifted-bit sum, 64 windows →
    * 63 delta bits so the hash stays positive in both engines
    * (DuckDB's `<<` refuses 1<<63). Takes any (doc_id, w, energy)
    * relation; used by m38b over the literal table. */
  private[graft] def m38bHashFromEnergies(energies: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("w")
    energies
      .withColumn("nexte", lead(col("energy"), 1).over(win))
      .filter(col("nexte").isNotNull)
      .groupBy("doc_id")
      .agg(sum(when(col("nexte") > col("energy"),
        expr("shiftleft(cast(1 as bigint), w)")).otherwise(0L)).as("dhash"))
  }

  /** m38b: m38's audio near-dup machinery oracle-checked — the m40b
    * pattern closing the LAST rows-only entry without its own
    * b-variant. m38 stays rows-only because WAV decode (RIFF walk,
    * PCM16 window energies) is JVM work, but everything AFTER the
    * window energies is relational: the energy-delta bit-pack (the
    * exact [[AudioCodec.energyDHash]] comparison law) and the banded
    * Hamming match ([[m35PairsFromHashes]] — the very same function
    * object m38 routes through). m38b feeds dialect-replayable
    * literal energies through BOTH stages, so DuckDB now replays the
    * fingerprint construction and the band/verify join byte-exactly;
    * the only audio stage outside any oracle gate is the RIFF/PCM
    * byte walk itself — the honest boundary (DuckDB cannot decode
    * WAV). Expected output: every within-group pair at Hamming 0
    * (the invariance theorem), 3 pairs per content group. */
  def m38bAudioOracle(s: SparkSession, dir: String): DataFrame =
    m35PairsFromHashes(m38bHashFromEnergies(m38bEnergyLiterals(s, dir)))

  /** DuckDB oracle for m38b: identical md5 literal energies and
    * variant transforms, identical lead() delta signs and shifted-bit
    * sum, then the SAME [[m35bBandPairsBody]] text m35b's gate runs.
    * The CAST of the SUM back to BIGINT matters: DuckDB sums BIGINT
    * into HUGEINT, and the band shifts must run at the production
    * width. */
  val m38bSql: String =
    s"""WITH d AS (
       | SELECT doc_id, doc_id % $m38ContentMod AS cid,
       |  (doc_id // $m38ContentMod) % 3 AS variant
       | FROM documents WHERE doc_id < ${3 * m38ContentMod}),
       |g AS (SELECT doc_id, cid, variant,
       |  unnest(generate_series(0, 63)) AS w FROM d),
       |e AS (
       | SELECT doc_id, w,
       |  CASE WHEN variant = 1 THEN h
       |       WHEN variant = 2 THEN h * 4 + 160
       |       ELSE h * 4 END AS energy
       | FROM (SELECT *, CAST(('0x' || substr(md5('e' || CAST(cid AS VARCHAR)
       |   || ':' || CAST(w AS VARCHAR)), 1, 7)) AS BIGINT) AS h FROM g)),
       |h AS (
       | SELECT doc_id, CAST(SUM(CASE WHEN nexte > energy
       |   THEN (CAST(1 AS BIGINT) << CAST(w AS INT)) ELSE 0 END) AS BIGINT) AS dhash
       | FROM (SELECT doc_id, w, energy,
       |        lead(energy) OVER (PARTITION BY doc_id ORDER BY w) AS nexte
       |       FROM e)
       | WHERE nexte IS NOT NULL GROUP BY doc_id),
       |$m35bBandPairsBody
       |SELECT doc_a, doc_b, hamming FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Image table for m39: even doc_ids carry a genuine THUMBNAIL —
    * frame 0 of their cid's clip rendered as an equal-channel gray
    * BMP (r=g=b=Y makes the BT.601 luma the identity, so the image
    * dHash equals the frame's [[ImageCodec.grayDHash]] bit for bit —
    * the cross-modal law m39 executes); odd doc_ids carry avalanche
    * noise images decorrelated from every clip. */
  private[graft] def mediaTableNearThumbs(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val (w, h, rgb) =
        if (r.doc_id % 2 == 0) {
          val cid = r.doc_id % m37ContentMod
          val (w0, h0, frames) = m37Planes(cid, 0, 0)
          val y = frames.head
          (w0, h0, Array.tabulate(3 * w0 * h0)(i => y(i / 3)))
        } else {
          val (w0, h0) = (16, 12)
          (w0, h0, Array.tabulate(3 * w0 * h0)(i =>
            Math.floorMod(avalanche((r.doc_id << 21) ^ 0x5eedL ^ (i / 3)), 200L).toByte))
        }
      r.copy(modality = "image", payload = ImageCodec.encodeBmp(w, h, rgb),
        meta = r.meta.copy(mime = "image/bmp", width = w, height = h))
    }
  }

  /** m39: cross-modal thumbnail detection — does this image appear
    * INSIDE that video? The production dedup question a crawl with
    * both modalities must answer (thumbnails, poster frames, still
    * rips), and the payoff of ONE hashing definition across
    * modalities: an equal-channel gray image and a video frame with
    * the same luma plane hash identically ([[ImageCodec.grayDHash]]
    * scaladoc — here that law becomes an executable join). Image
    * dHashes and m37's sampled-frame luma hashes
    * ([[m37FrameHashes]] — the SAME stream m37's pair finder uses)
    * meet in the m35 banded equi-join, each (image, frame) pair
    * emitted from its first equal band (shared
    * [[firstEqualBandSql]] — no distinct shuffle), verified at
    * Hamming ≤ 3. Output: (image_id, video_id, frame_idx, hamming).
    *
    * Scale: both sides reduce to 8-byte hashes at scan stage; the
    * join is the bucketed (band, chunk) equi-join; pair volume is
    * thumbnail-collision-sized, never |images| × |frames|.
    * Rows-only (JVM decode); MultimodalSpec proves the planted
    * thumbnail ↔ clip-group matches are exactly the output (every
    * even image matches frame 0 of every clip in its content
    * group, noise images match nothing). */
  def m39ThumbnailMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val imgHashes = mediaTableNearThumbs(s, dir)
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map(r =>
        (r.doc_id,
          ImageCodec.decodeDHash(r.payload)
            .map(java.lang.Long.valueOf).orNull))))
      .toDF("image_id", "dhash")
      .filter(col("dhash").isNotNull)
    val frameHashes = m37FrameHashes(s, dir)
      .select(col("doc_id").as("video_id"), col("frame_idx"),
        col("fhash"))
    m39MatchFromHashes(imgHashes, frameHashes)
  }

  /** The ONE cross-modal banded match body — m39 feeds it decoded
    * dHashes (JVM work), m39b feeds it literal hashes
    * (dialect-replayable), so the band layout, first-equal-band
    * emission, and ≤ 3 verify cannot drift between the rows-only
    * entry and its oracle gate (the m34/m34b split). Takes
    * (image_id, dhash) and (video_id, frame_idx, fhash). */
  private[graft] def m39MatchFromHashes(imgHashes: DataFrame,
      frameHashes: DataFrame): DataFrame = {
    val bandsOf = (hc: String) => expr(
      s"""transform(sequence(0, 3), i ->
         |  struct(i AS band, shiftright($hc, 16 * i) & 65535 AS chunk))"""
        .stripMargin)
    val bi = imgHashes.select(col("image_id"), col("dhash").as("hash_a"),
        explode(bandsOf("dhash")).as("b"))
      .select(col("image_id"), col("hash_a"),
        col("b.band").as("band"), col("b.chunk").as("chunk"))
    val bf = frameHashes
      .select(col("video_id"), col("frame_idx"),
        col("fhash").as("hash_b"),
        explode(bandsOf("fhash")).as("b"))
      .select(col("video_id"), col("frame_idx"), col("hash_b"),
        col("b.band").as("band"), col("b.chunk").as("chunk"))
    bi.join(bf, Seq("band", "chunk"))
      .filter(col("band") === expr(firstEqualBandSql))
      .withColumn("hamming", expr("bit_count(hash_a ^ hash_b)"))
      .filter(col("hamming") <= 3)
      .select("image_id", "video_id", "frame_idx", "hamming")
      .orderBy("image_id", "video_id", "frame_idx")
  }

  /** m40's planted scene plan for a clip: 2–4 scenes of 2–4 frames
    * each, all derived from doc_id — the spec recomputes the exact
    * expected cut positions from this one definition. */
  private[graft] def m40ScenePlan(id: Long): Seq[Int] = {
    val nScenes = 2 + (id % 3).toInt
    (0 until nScenes).map(sc => 2 + ((id + sc) % 3).toInt)
  }

  /** Clip table with planted SCENES: within a scene every frame is
    * the same avalanche-mixed luma under a small UNIFORM brightness
    * jitter (+0/+1/+2 per frame — a uniform shift preserves every
    * adjacent-sample comparison, so the dHash is bit-identical; the
    * frame bytes and CRC are not), and a scene boundary switches to
    * an independent avalanche pattern (Hamming ≈ 32 — the m37
    * decorrelation argument). The planted law: consecutive-frame
    * dHash distance is 0 within a scene and large exactly at
    * boundaries. */
  private[graft] def m40Planes(id: Long): (Int, Int, Seq[Array[Byte]]) = {
    val w = 10 + 2 * (id % 4).toInt
    val h = 8 + 2 * (id % 3).toInt
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    def mix(scene: Int, plane: Long, pos: Long): Long =
      Math.floorMod(avalanche((id << 24) ^ (plane << 22) ^ (scene.toLong << 14) ^ pos), 197L)
    val frames = m40ScenePlan(id).zipWithIndex.flatMap { case (n, scene) =>
      (0 until n).map { f =>
        val jitter = f % 3
        val b = new Array[Byte](ySize + 2 * cSize)
        var i = 0
        while (i < ySize) { b(i) = (mix(scene, 0L, i) + jitter).toByte; i += 1 }
        var j = 0
        while (j < 2 * cSize) { b(ySize + j) = mix(scene, 1L, j).toByte; j += 1 }
        b
      }
    }
    (w, h, frames)
  }

  private[graft] def mediaTableScenes(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map { r =>
      val (w, h, frames) = m40Planes(r.doc_id)
      r.copy(modality = "video",
        payload = VideoCodec.encodeY4m(w, h, 25, 1, frames),
        meta = r.meta.copy(mime = "video/y4m", width = w, height = h,
          durationMs = frames.length * 40L))
    }
  }

  /** m40: scene-cut detection — the temporal segmentation every
    * video-curation pipeline runs before clip-level dedup or
    * captioning: split each clip where consecutive frames stop
    * being perceptually similar. Frames walk the REAL container
    * (the shared [[sampleFrames]] at a 40 ms tick = every frame at
    * 25 fps), each frame's luma is the SAME
    * [[ImageCodec.grayDHash]] every perceptual operator (m35/m37/
    * m39) uses, and a cut is declared where the consecutive-frame
    * Hamming distance exceeds 10 — uniform brightness flicker
    * within a scene moves the distance by 0 bits (a uniform shift
    * preserves every gradient comparison), while an actual content
    * switch sits near 32 (the avalanche decorrelation argument).
    * Output: (doc_id, cut_frame, dist) — frame indexes where a new
    * scene starts.
    *
    * Scale: decode + hash is a per-partition map (8 bytes per frame
    * cross the wire, never pixels); the only shuffle is the lag
    * window partitioned by doc_id, whose state is bounded by clip
    * length — embarrassingly parallel across clips. Rows-only (JVM
    * container walk isn't SQL-replayable); MultimodalSpec proves
    * the recovered cuts are EXACTLY the planted scene boundaries on
    * every clip, with zero false cuts from the in-scene jitter. */
  def m40SceneCut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clips = mediaTableScenes(s, dir)
    val dims = clips.map(r => (r.doc_id, r.meta.width, r.meta.height))
      .toDF("doc_id", "w", "h")
    val fh = sampleFrames(clips, 40L).toDF()
      .join(dims, "doc_id")
      .select("doc_id", "frame_idx", "w", "h", "frame_payload")
      .as[(Long, Int, Int, Int, Array[Byte])]
      .flatMap { case (id, fi, w, h, p) =>
        ImageCodec.grayDHash(w, h, p).map(hsh => (id, fi, hsh)) }
      .toDF("doc_id", "frame_idx", "fhash")
    m40CutsFromHashes(fh)
  }

  /** The ONE cut-detection body — m40 feeds it decoded frame dHashes
    * (JVM container walk), m40b feeds it literal hashes
    * (dialect-replayable), so the lag window, the xor/popcount
    * distance, and the > 10 threshold cannot drift between the
    * rows-only entry and its oracle gate (the m35/m35b split applied
    * to the temporal stage). Takes (doc_id, frame_idx, fhash). */
  private[graft] def m40CutsFromHashes(fh: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    fh.withColumn("prev", lag(col("fhash"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("dist", expr("bit_count(fhash ^ prev)").cast("int"))
      .filter(col("dist") > 10)
      .select(col("doc_id"), col("frame_idx").as("cut_frame"), col("dist"))
      .orderBy("doc_id", "cut_frame")
  }

  /** m40b's literal frame-hash table: 40 clips × 8 frames; each
    * clip's frames split into uniform scenes of 2 + (doc_id % 3)
    * frames; a scene's base hash is a 60-bit md5 literal keyed by
    * (clip, scene), and within a scene ODD frames flip the two
    * deterministic m35b bit positions (doc_id%60 and (7·doc_id+13)%60
    * — never equal), so consecutive in-scene distances are exactly 2
    * (the sub-threshold jitter the > 10 rule must IGNORE) while
    * scene boundaries jump between independent md5 hashes (~30 bits
    * apart — whatever the exact distance, both engines compute the
    * same one). */
  private[graft] def m40bFrameLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), explode(expr("sequence(0, 7)")).as("frame_idx"))
      .withColumn("scene", expr("frame_idx div (2 + doc_id % 3)"))
      .withColumn("base", expr(
        """cast(conv(substring(md5(concat('sc:', cast(doc_id as string),
          | ':', cast(scene as string))), 1, 15), 16, 10) as bigint)"""
          .stripMargin))
      .withColumn("fhash", expr(
        """CASE WHEN frame_idx % 2 = 1
          | THEN base ^ (shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT)) |
          |              shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 7 + 13) % 60 AS INT)))
          | ELSE base END""".stripMargin))
      .select("doc_id", "frame_idx", "fhash")

  /** m40b: m40's cut rule oracle-checked — the last relational stage
    * in the m-family without an oracle twin: m40
    * stays rows-only because its hashes come from a JVM container
    * walk, but the lag-window distance + threshold is relational, so
    * m40b routes a dialect-replayable literal hash stream with
    * planted scene structure through the VERY SAME
    * [[m40CutsFromHashes]] body and DuckDB replays the window, the
    * xor/popcount distance, and the > 10 rule byte-exactly —
    * including NOT firing on the planted distance-2 in-scene
    * jitter. */
  def m40bSceneCutOracle(s: SparkSession, dir: String): DataFrame =
    m40CutsFromHashes(m40bFrameLiterals(s, dir))

  /** DuckDB oracle for m40b: identical literal hashes, identical lag
    * window, identical distance and threshold. */
  val m40bSql: String =
    """WITH fr AS (
      | SELECT doc_id, unnest(generate_series(0, 7)) AS frame_idx
      | FROM documents WHERE doc_id < 40),
      |h AS (
      | SELECT doc_id, frame_idx,
      |  CASE WHEN frame_idx % 2 = 1
      |   THEN xor(base, (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT)) |
      |     (CAST(1 AS BIGINT) << CAST((doc_id * 7 + 13) % 60 AS INT)))
      |   ELSE base END AS fhash
      | FROM (
      |  SELECT doc_id, frame_idx,
      |   CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
      |     CAST(frame_idx // (2 + doc_id % 3) AS VARCHAR)), 1, 15)) AS BIGINT) AS base
      |  FROM fr)),
      |lagged AS (
      | SELECT doc_id, frame_idx,
      |  lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev,
      |  fhash
      | FROM h)
      |SELECT doc_id, CAST(frame_idx AS INT) AS cut_frame,
      | CAST(bit_count(xor(fhash, prev)) AS INT) AS dist
      |FROM lagged
      |WHERE prev IS NOT NULL AND bit_count(xor(fhash, prev)) > 10
      |ORDER BY doc_id, cut_frame""".stripMargin

  // ---- m41: container metadata scrub (multimodal PII removal) ----

  /** m41's planted-metadata rule: every 5th media row arrives with
    * embedded container metadata — the EXIF-GPS / ID3-artist / Y4M
    * comment-tag class a training-data release must strip. */
  private[graft] def m41Planted(docId: Long): Boolean = docId % 5 == 0

  /** Closed-form planted byte counts — pure functions of doc_id so
    * the oracle replays the whole byte ledger without parsing a
    * container: the WAV LIST/INFO chunk adds 8 + (12 + 2·(id%10))
    * (even payload — no RIFF pad byte), the BMP trailer adds
    * 7 + id%13 (bytes past the declared file size — where real EXIF
    * appenders put thumbnails), the Y4M X-param adds 6 + id%16
    * (" XMETA" + k·"m" in the stream header). */
  private[graft] def m41WavAdd(id: Long): Int = 20 + 2 * (id % 10).toInt
  private[graft] def m41BmpAdd(id: Long): Int = 7 + (id % 13).toInt
  private[graft] def m41Y4mAdd(id: Long): Int = 6 + (id % 16).toInt

  /** Inject the planted metadata into a clean container, keeping it
    * VALID (RIFF size field updated; BMP declared size untouched —
    * the trailer is past it by design; Y4M header line re-balanced):
    * decode before and after must agree, which is exactly what makes
    * scrubbing safe to run corpus-wide. */
  private[multimodal] def m41Plant(r: MediaRecord): MediaRecord = {
    val b = r.payload
    val out: Array[Byte] = r.modality match {
      case "audio" =>
        val p = m41WavAdd(r.doc_id) - 8
        val arr = new Array[Byte](b.length + 8 + p)
        System.arraycopy(b, 0, arr, 0, 36) // RIFF hdr + fmt chunk
        arr(36) = 'L'; arr(37) = 'I'; arr(38) = 'S'; arr(39) = 'T'
        ByteIO.putLe32(arr, 40, p)
        var i = 0
        while (i < p) {
          arr(44 + i) =
            if (i < 4) "INFO".charAt(i).toByte
            else ('a' + ((r.doc_id + i) % 26)).toByte
          i += 1
        }
        System.arraycopy(b, 36, arr, 44 + p, b.length - 36)
        ByteIO.putLe32(arr, 4, arr.length - 8)
        arr
      case "image" =>
        b ++ Array.tabulate(m41BmpAdd(r.doc_id))(i =>
          ((r.doc_id * 7 + i * 3) % 256).toByte)
      case _ =>
        val nl = b.indexOf('\n'.toByte)
        val k = m41Y4mAdd(r.doc_id) - 6
        val tag = (" XMETA" + "m" * k).getBytes("US-ASCII")
        b.slice(0, nl) ++ tag ++ b.slice(nl, b.length)
    }
    r.copy(payload = out)
  }

  /** The scrub itself: re-emit each container with ONLY what decode
    * needs. WAV: chunk-walk keeping fmt /data in order, RIFF size
    * rebuilt (drops LIST/INFO/id3/cue — everything); BMP: truncate
    * to the header's declared file size (trailing appendices go);
    * Y4M: drop X* params from the stream header. A clean container
    * round-trips BYTE-IDENTICALLY (the fail-stop below), so the
    * scrub is safe to run unconditionally — no "has metadata?"
    * sniff pass needed. Corrupt input returns unchanged (the codec
    * None contract: scrubbing never throws mid-pipeline). */
  private[graft] def m41Scrub(modality: String, b: Array[Byte]): Array[Byte] =
    modality match {
      case "audio" =>
        if (b.length < 44) b
        else {
          val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var pos = 12
          var ok = true
          while (ok && pos + 8 <= b.length) {
            val id = new String(b, pos, 4, "US-ASCII")
            val sz = ByteIO.le32(b, pos + 4)
            if (sz < 0 || pos.toLong + 8 + sz > b.length) ok = false
            else {
              val tot = 8 + sz + (sz & 1)
              if (id == "fmt " || id == "data")
                kept += ((pos, math.min(tot, b.length - pos)))
              pos += tot
            }
          }
          if (!ok) b
          else {
            val outLen = 12 + kept.map(_._2).sum
            val out = new Array[Byte](outLen)
            System.arraycopy(b, 0, out, 0, 12)
            var o = 12
            kept.foreach { case (off, len) =>
              System.arraycopy(b, off, out, o, len); o += len
            }
            ByteIO.putLe32(out, 4, outLen - 8)
            out
          }
        }
      case "image" =>
        if (b.length < 6) b
        else {
          val declared = ByteIO.le32(b, 2)
          if (declared >= 54 && declared <= b.length)
            java.util.Arrays.copyOf(b, declared)
          else b
        }
      case _ =>
        val nl = b.indexOf('\n'.toByte)
        if (nl < 0) b
        else {
          val line = new String(b, 0, nl, "US-ASCII")
          val cleaned = line.split(" ")
            .filter(t => t.nonEmpty && !t.startsWith("X")).mkString(" ")
          cleaned.getBytes("US-ASCII") ++ b.slice(nl, b.length)
        }
    }

  /** The media table as a dirty crawl delivers it: every 5th row
    * carries planted container metadata. */
  private[graft] def mediaTableWithMeta(s: SparkSession, dir: String)
      : Dataset[MediaRecord] = {
    import s.implicits._
    mediaTable(s, dir).map(r => if (m41Planted(r.doc_id)) m41Plant(r) else r)
  }

  /** m41: CONTAINER METADATA SCRUB — the multimodal twin of t34/t43
    * (text scrubs strings; media PII lives in CONTAINER metadata:
    * EXIF GPS tracks, ID3 artist tags, stream comment params — none
    * of it in the decoded signal): strip every non-essential chunk/
    * param from each payload and prove, per row, that the DECODED
    * content is bit-identical while the bytes shrink by exactly the
    * planted metadata's size. Fail-stops pin the three laws a
    * release needs: decode-identity on every row (the scrub may
    * change bytes, never content — compared on the decoded codec
    * fields, CRCs included), clean rows byte-count-identical (no
    * collateral damage), planted rows strictly smaller (the scrub
    * genuinely bit). The face is the byte ledger per (modality,
    * planted); every value is closed-form generative arithmetic, so
    * the DuckDB oracle replays it without parsing a container —
    * any drift in plant, scrub, or the encoders breaks the hash.
    * MultimodalSpec pins the rest: idempotence (scrub∘scrub ==
    * scrub), clean rows byte-identical (not just length), decoded
    * CRCs equal on planted rows.
    *
    * Scale (100 TB): the scrub is a per-row bounded-memory byte walk
    * inside the SAME mapPartitions batch shape as the decode (no
    * shuffle, no driver involvement); the ledger rollup is
    * O(modalities × 2). Real deployments swap the three walkers for
    * exiftool/ffmpeg `-map_metadata -1` semantics — the Spark-side
    * plumbing, laws, and instruments are what this operator pins. */
  def m41MetadataScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pre = mediaTableWithMeta(s, dir)
    val post = pre.map(r => r.copy(payload = m41Scrub(r.modality, r.payload)))
    val contentCols = Seq("decoded_format", "width", "height", "pixel_crc",
      "sample_rate", "n_samples", "sample_crc", "n_frames", "fps_x1000")
    def content(ds: Dataset[MediaRecord]) =
      decodeFeatures(ds).select((Seq("doc_id") ++ contentCols).map(col): _*)
    val drift = content(pre).exceptAll(content(post)).count()
    require(drift == 0,
      s"m41: scrub changed decoded content on $drift rows")
    val ledger = pre
      .map(r => (r.doc_id, r.modality, m41Planted(r.doc_id), r.payload.length))
      .toDF("doc_id", "modality", "planted", "bytes_before")
      .join(post.map(r => (r.doc_id, r.payload.length))
        .toDF("doc_id", "bytes_after"), Seq("doc_id"))
    val bad = ledger.filter(
      (!col("planted") && col("bytes_after") =!= col("bytes_before")) ||
        (col("planted") && col("bytes_after") >= col("bytes_before"))).count()
    require(bad == 0,
      s"m41: $bad rows break the shrink laws (clean identical, planted smaller)")
    ledger.groupBy("modality", "planted")
      .agg(count(lit(1)).as("n"),
        sum("bytes_before").as("bytes_before"),
        sum("bytes_after").as("bytes_after"))
      .orderBy("modality", "planted")
  }

  /** DuckDB oracle for m41: the byte ledger replayed from the
    * generative rules alone — container sizes are closed-form in
    * doc_id (WAV 44+2n; BMP 54+stride·h; Y4M header+frames) and the
    * planted sizes are [[m41WavAdd]]/[[m41BmpAdd]]/[[m41Y4mAdd]]. */
  val m41Sql: String =
    """WITH m AS (
      | SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |   ELSE 'video' END AS modality,
      |  doc_id % 5 = 0 AS planted
      | FROM documents),
      |sz AS (
      | SELECT doc_id, modality, planted,
      |  CASE modality
      |   WHEN 'audio' THEN 44 + 2 * (16 + doc_id % 64)
      |   WHEN 'image' THEN 54 +
      |    ((3 * (1 + doc_id % 8) + 3) // 4) * 4 * (1 + doc_id % 6)
      |   ELSE length('YUV4MPEG2 W' || CAST(2 * (1 + doc_id % 4) AS VARCHAR) ||
      |     ' H' || CAST(2 * (1 + doc_id % 3) AS VARCHAR) ||
      |     ' F25:1 Ip A1:1 C420') + 1 +
      |    (1 + doc_id % 5) *
      |     (6 + (2 * (1 + doc_id % 4)) * (2 * (1 + doc_id % 3)) * 3 // 2)
      |  END AS base,
      |  CASE WHEN NOT planted THEN 0
      |   WHEN modality = 'audio' THEN 20 + 2 * (doc_id % 10)
      |   WHEN modality = 'image' THEN 7 + doc_id % 13
      |   ELSE 6 + doc_id % 16 END AS added
      | FROM m)
      |SELECT modality, planted, count(*) AS n,
      | CAST(sum(base + added) AS BIGINT) AS bytes_before,
      | CAST(sum(base) AS BIGINT) AS bytes_after
      |FROM sz GROUP BY 1, 2 ORDER BY modality, planted""".stripMargin

  // ---- m35b: the band/verify stage oracle-checked (the d23b split) ----

  /** The dual-dialect literal hash table m35b feeds the PRODUCTION
    * pair finder: 120 docs, 40 content groups × 3 variants on the
    * m35 planted scheme — variant 0 and 1 share the group's 60-bit
    * md5 hash exactly (the BMP/PPM same-pixels case), variant 2
    * flips two deterministic bit positions (cid%60 and (7·cid+13)%60,
    * never equal: 6·cid ≡ 47 (mod 60) has no solution), the
    * brightness-shift near-dup at Hamming 2. The same md5 formula
    * is emitted into DuckDB, so the INPUT is byte-identical in both
    * engines and the comparison isolates exactly the stage m35
    * cannot oracle-check through JVM decode: 4×16-bit banding, the
    * pigeonhole candidate join, first-equal-band exactly-once
    * emission, and the xor/popcount ≤ 3 verify. */
  private[graft] def m35bHashLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 120)
      .withColumn("cid", col("doc_id") % m35ContentMod)
      .withColumn("base", expr(
        "cast(conv(substring(md5(cast(cid as string)), 1, 15), 16, 10) as bigint)"))
      .withColumn("dhash", expr(
        s"""CASE WHEN (doc_id div $m35ContentMod) % 3 = 2
           | THEN base ^ (shiftleft(CAST(1 AS BIGINT), CAST(cid % 60 AS INT)) |
           |              shiftleft(CAST(1 AS BIGINT), CAST((cid * 7 + 13) % 60 AS INT)))
           | ELSE base END""".stripMargin))
      .select("doc_id", "dhash")

  /** m35b: m35's band join + Hamming verify, oracle-checked — the
    * d23/d23b split applied to the multimodal family: m35 stays
    * rows-only because its INPUT (container decode → dHash) is JVM
    * work no SQL engine can replay, but everything downstream of the
    * hash is relational, so m35b routes a dialect-replayable literal
    * hash stream through the VERY SAME [[m35PairsFromHashes]] the
    * production finder uses (one function object — the band layout,
    * first-equal-band filter, and ≤ 3 threshold cannot drift apart)
    * and DuckDB replays banding + verify byte-exactly. */
  def m35bNeardupOracle(s: SparkSession, dir: String): DataFrame =
    m35PairsFromHashes(m35bHashLiterals(s, dir))

  /** The m35b literal-hash + band/verify pipeline as a DuckDB CTE
    * chain ending in `pairs (doc_a, doc_b, hamming)` — ONE body
    * shared by m35b's pair gate and m36b's closure gate, so the two
    * cannot disagree about the edge set. */
  /** The literal image-hash CTE alone — shared by [[m35bPairsCte]]
    * and m39b's cross-modal oracle, so the two gates consume the
    * same image hashes. */
  private val m35bHashCte: String = {
    val mod = m35ContentMod
    s"""h AS (
       | SELECT doc_id,
       |  CASE WHEN (doc_id // $mod) % 3 = 2
       |   THEN xor(base, (CAST(1 AS BIGINT) << CAST(cid % 60 AS INT)) |
       |     (CAST(1 AS BIGINT) << CAST((cid * 7 + 13) % 60 AS INT)))
       |   ELSE base END AS dhash
       | FROM (
       |  SELECT doc_id, doc_id % $mod AS cid,
       |   CAST(('0x' || substr(md5(CAST(doc_id % $mod AS VARCHAR)), 1, 15)) AS BIGINT) AS base
       |  FROM documents WHERE doc_id < 120))""".stripMargin
  }

  /** The band-explode + first-equal-band + popcount-verify CTE body
    * over a preceding CTE named `h (doc_id, dhash)` — factored out so
    * m35b/m36b (image literals) and m38b (audio energy literals)
    * replay the ONE production match body ([[m35PairsFromHashes]])
    * from the same SQL text and the gates cannot drift. */
  private def m35bBandPairsBody: String =
    """bx AS (
      | SELECT doc_id, dhash, band, (dhash >> CAST(16 * band AS INT)) & 65535 AS chunk
      | FROM (SELECT doc_id, dhash, unnest(generate_series(0, 3)) AS band FROM h)),
      |pairs AS (
      | SELECT doc_a, doc_b, CAST(bit_count(xor(hash_a, hash_b)) AS INT) AS hamming
      | FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.dhash AS hash_a, b.dhash AS hash_b, a.band
      |  FROM bx a JOIN bx b
      |   ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      | WHERE band = (CASE WHEN (hash_a & 65535) = (hash_b & 65535) THEN 0
      |   WHEN ((hash_a >> 16) & 65535) = ((hash_b >> 16) & 65535) THEN 1
      |   WHEN ((hash_a >> 32) & 65535) = ((hash_b >> 32) & 65535) THEN 2
      |   ELSE 3 END)
      |  AND bit_count(xor(hash_a, hash_b)) <= 3)""".stripMargin

  // stripMargin at the DEFINITION keeps this val self-contained (the
  // inner pieces are already stripped, so re-stripping is a no-op on
  // them — but a consumer composing this without its own outer
  // stripMargin must not inherit the joint's raw margin)
  private val m35bPairsCte: String =
    s"""$m35bHashCte,
       |$m35bBandPairsBody""".stripMargin

  /** DuckDB oracle for m35b: identical md5 literal hashes, identical
    * two-bit variant flips, the identical 4×16-bit band explode,
    * first-equal-band CASE, and bit_count verify. */
  val m35bSql: String =
    s"""WITH $m35bPairsCte
       |SELECT doc_a, doc_b, hamming FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** m36b: m36's closure stage oracle-checked — the same split one
    * level up: m36 stays rows-only because its edges come from JVM
    * decode, but the CLOSURE over any edge set is relational, so
    * m36b routes the m35b literal pairs through the VERY SAME
    * [[graft.dedup.Dedup.connectedComponents]] the production
    * closure uses and DuckDB replays it with a recursive
    * reachability CTE (the d27b pattern). With m35b + m37b this
    * leaves JVM decode — and nothing relational — outside the
    * oracle gate for the whole perceptual family. */
  def m36bClosureOracle(s: SparkSession, dir: String): DataFrame = {
    val hashes = m35bHashLiterals(s, dir)
    val verts = hashes.select(col("doc_id").as("id"))
    val edges = m35PairsFromHashes(hashes)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.dedup.Dedup.connectedComponents(verts, edges)
      .select(col("id").as("doc_id"), col("component").as("component_id"),
        (col("id") === col("component")).as("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for m36b: the shared [[m35bPairsCte]] edge set,
    * symmetrized and closed with the d27b recursive-reachability
    * idiom, min label per vertex. */
  val m36bSql: String =
    s"""WITH RECURSIVE $m35bPairsCte,
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs
       | UNION ALL
       | SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(a, b) AS (
       | SELECT doc_id, doc_id FROM h
       | UNION
       | SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       |SELECT a AS doc_id, MIN(b) AS component_id, MIN(b) = a AS keep
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** m39b's literal frame-hash table: 60 clips × 3 frames; frame 0
    * carries its content group's base hash (the SAME md5 formula the
    * m35b image literals use, keyed by video_id mod 40 — so images
    * and poster frames of one group hash identically, the law m39
    * decodes its way to), frames 1–2 carry independent avalanche
    * hashes in a disjoint 'f:' namespace. */
  private[graft] def m39bFrameLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 60)
      .select(col("doc_id").as("video_id"),
        explode(expr("sequence(0, 2)")).as("frame_idx"))
      .withColumn("fhash", expr(
        s"""CASE WHEN frame_idx = 0
           | THEN cast(conv(substring(md5(cast(video_id % $m35ContentMod as string)), 1, 15), 16, 10) as bigint)
           | ELSE cast(conv(substring(md5(concat('f:', cast(video_id as string), ':', cast(frame_idx as string))), 1, 15), 16, 10) as bigint)
           | END""".stripMargin))
      .select("video_id", "frame_idx", "fhash")

  /** m39b: m39's cross-modal band join + Hamming verify,
    * oracle-checked — the m34b/m35b split applied to the LAST
    * relational rows-only stage in the m-family: m39 stays rows-only
    * because its hashes come from JVM container decode, but the
    * cross-modal banded match is relational, so m39b routes two
    * dialect-replayable literal hash streams (m35b's images, a
    * planted poster-frame clip table) through the VERY SAME
    * [[m39MatchFromHashes]] body and DuckDB replays banding,
    * first-equal-band emission, and the ≤ 3 verify byte-exactly.
    * With this, every relational stage in m33–m40 is oracle-gated;
    * only JVM codec decode itself remains rows-only. */
  def m39bThumbnailOracle(s: SparkSession, dir: String): DataFrame =
    m39MatchFromHashes(
      m35bHashLiterals(s, dir).select(col("doc_id").as("image_id"),
        col("dhash")),
      m39bFrameLiterals(s, dir))

  /** DuckDB oracle for m39b: the shared [[m35bHashCte]] image
    * literals, identical frame literals, identical 4×16-bit band
    * explode on both sides, first-equal-band CASE, and bit_count
    * verify. */
  val m39bSql: String =
    s"""WITH $m35bHashCte,
       |frames AS (
       | SELECT video_id, frame_idx,
       |  CASE WHEN frame_idx = 0
       |   THEN CAST(('0x' || substr(md5(CAST(video_id % $m35ContentMod AS VARCHAR)), 1, 15)) AS BIGINT)
       |   ELSE CAST(('0x' || substr(md5('f:' || CAST(video_id AS VARCHAR) || ':' ||
       |     CAST(frame_idx AS VARCHAR)), 1, 15)) AS BIGINT) END AS fhash
       | FROM (SELECT doc_id AS video_id,
       |        unnest(generate_series(0, 2)) AS frame_idx
       |       FROM documents WHERE doc_id < 60)),
       |bi AS (
       | SELECT doc_id AS image_id, dhash AS hash_a, band,
       |  (dhash >> CAST(16 * band AS INT)) & 65535 AS chunk
       | FROM (SELECT doc_id, dhash, unnest(generate_series(0, 3)) AS band FROM h)),
       |bf AS (
       | SELECT video_id, frame_idx, fhash AS hash_b, band,
       |  (fhash >> CAST(16 * band AS INT)) & 65535 AS chunk
       | FROM (SELECT video_id, frame_idx, fhash,
       |        unnest(generate_series(0, 3)) AS band FROM frames))
       |SELECT image_id, video_id, CAST(frame_idx AS INT) AS frame_idx,
       | CAST(bit_count(xor(hash_a, hash_b)) AS INT) AS hamming
       |FROM (
       | SELECT bi.image_id, bf.video_id, bf.frame_idx,
       |  bi.hash_a, bf.hash_b, bi.band
       | FROM bi JOIN bf ON bi.band = bf.band AND bi.chunk = bf.chunk)
       |WHERE band = (CASE WHEN (hash_a & 65535) = (hash_b & 65535) THEN 0
       |  WHEN ((hash_a >> 16) & 65535) = ((hash_b >> 16) & 65535) THEN 1
       |  WHEN ((hash_a >> 32) & 65535) = ((hash_b >> 32) & 65535) THEN 2
       |  ELSE 3 END)
       | AND bit_count(xor(hash_a, hash_b)) <= 3
       |ORDER BY image_id, video_id, frame_idx""".stripMargin

  // ---- m37b: the frame-aligned band/ratio stage oracle-checked ----

  /** The dual-dialect literal FRAME-hash table m37b feeds the
    * production video pair finder: 60 clips = 20 content groups × 3
    * variants, 6 frames each. Per (cid, frame) the base hash is a
    * 60-bit md5; variants 0 and 1 carry it unchanged (the re-encode
    * case), variant 2 keeps the base on its leading frames but takes
    * an unrelated md5 ('x'-salted) on the rest — 3 of 6 frames for
    * even cids (ratio exactly 0.5, the ≥ threshold boundary) and 2
    * of 6 for odd cids (0.3333, dropped). The same md5 formulas are
    * emitted into DuckDB, so the INPUT is byte-identical and the
    * comparison isolates exactly the stage m37 cannot oracle-check
    * through the JVM container walk: the frame-ALIGNED 4×16-bit band
    * join, candidate distinct, signature zip, and the ≥ 0.5 aligned-
    * frame ratio verify. */
  private[graft] def m37bFrameHashLiterals(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 60)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(5))).as("frame_idx"))
      .withColumn("cid", col("doc_id") % 20)
      .withColumn("base", expr(
        """cast(conv(substring(md5(concat(cast(cid as string), ':',
          |  cast(frame_idx as string))), 1, 15), 16, 10) as bigint)""".stripMargin))
      .withColumn("alt", expr(
        """cast(conv(substring(md5(concat('x', cast(cid as string), ':',
          |  cast(frame_idx as string))), 1, 15), 16, 10) as bigint)""".stripMargin))
      .withColumn("fhash", expr(
        "CASE WHEN (doc_id div 20) % 3 = 2 AND frame_idx >= 3 - cid % 2 THEN alt ELSE base END"))
      .select("doc_id", "frame_idx", "fhash")

  /** m37b: m37's frame-aligned band join + ratio verify, oracle-
    * checked — the m35/m35b split applied to the video path, whose
    * downstream is NOT m35's (per-frame alignment, multi-collision
    * candidate distinct, signature ratio — none of it exercised by
    * m35b). Routes a dialect-replayable literal frame-hash stream
    * through the VERY SAME [[m37PairsFromFrameHashes]] the
    * production finder uses; DuckDB replays everything downstream of
    * the hash byte-exactly, m37 itself stays rows-only only for the
    * JVM decode. */
  def m37bVideoOracle(s: SparkSession, dir: String): DataFrame =
    m37PairsFromFrameHashes(m37bFrameHashLiterals(s, dir))

  /** DuckDB oracle for m37b: identical md5 literal frame hashes,
    * frame-aligned band explode, pair distinct, and the per-aligned-
    * frame Hamming ≤ 3 ratio — the join-on-frame_idx form is exact
    * because every literal clip has the same 6 contiguous frames, so
    * positional zip and aligned join coincide. */
  val m37bSql: String =
    """WITH f AS (
      | SELECT doc_id, doc_id % 20 AS cid,
      |  unnest(generate_series(0, 5)) AS frame_idx
      | FROM documents WHERE doc_id < 60),
      |h AS (
      | SELECT doc_id, frame_idx,
      |  CASE WHEN (doc_id // 20) % 3 = 2 AND frame_idx >= 3 - cid % 2
      |   THEN CAST(('0x' || substr(md5('x' || CAST(cid AS VARCHAR) || ':'
      |     || CAST(frame_idx AS VARCHAR)), 1, 15)) AS BIGINT)
      |   ELSE CAST(('0x' || substr(md5(CAST(cid AS VARCHAR) || ':'
      |     || CAST(frame_idx AS VARCHAR)), 1, 15)) AS BIGINT) END AS fhash
      | FROM f),
      |bx AS (
      | SELECT doc_id, frame_idx, fhash,
      |  band, (fhash >> CAST(16 * band AS INT)) & 65535 AS chunk
      | FROM (SELECT h.*, unnest(generate_series(0, 3)) AS band FROM h)),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM bx a JOIN bx b
      |  ON a.frame_idx = b.frame_idx AND a.band = b.band
      |   AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      |per AS (
      | SELECT p.doc_a, p.doc_b,
      |  CAST(count(CASE WHEN bit_count(xor(a.fhash, b.fhash)) <= 3
      |    THEN 1 END) AS INT) AS matched_frames,
      |  CAST(count(*) AS INT) AS total_frames
      | FROM pairs p
      | JOIN h a ON a.doc_id = p.doc_a
      | JOIN h b ON b.doc_id = p.doc_b AND b.frame_idx = a.frame_idx
      | GROUP BY p.doc_a, p.doc_b)
      |SELECT doc_a, doc_b, matched_frames, total_frames,
      | ROUND(CAST(matched_frames AS DOUBLE) / total_frames, 4) AS match_ratio
      |FROM per
      |WHERE ROUND(CAST(matched_frames AS DOUBLE) / total_frames, 4) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("m33_multimodal", m33Multimodal),
    Entry("m33b_decode_oracle", m33bDecodeOracle, m33bSql),
    Entry("m34_media_dedup", m34MediaDedup),
    Entry("m34b_dedup_oracle", m34bDedupOracle, m34bSql),
    Entry("m35_media_neardup", m35MediaNeardup),
    Entry("m35b_neardup_oracle", m35bNeardupOracle, m35bSql),
    Entry("m36_media_dedup_closure", m36MediaDedupClosure),
    Entry("m36b_closure_oracle", m36bClosureOracle, m36bSql),
    Entry("m37_video_neardup", m37VideoNeardup),
    Entry("m37b_video_oracle", m37bVideoOracle, m37bSql),
    Entry("m38_audio_neardup", m38AudioNeardup),
    Entry("m38b_audio_oracle", m38bAudioOracle, m38bSql),
    Entry("m39_thumbnail_match", m39ThumbnailMatch),
    Entry("m39b_thumbnail_oracle", m39bThumbnailOracle, m39bSql),
    Entry("m40_scene_cut", m40SceneCut),
    Entry("m40b_scene_cut_oracle", m40bSceneCutOracle, m40bSql),
    Entry("m41_metadata_scrub", m41MetadataScrub, m41Sql))
}
