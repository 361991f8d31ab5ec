package graft
package queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops._

/** `m_*`: image/audio/video/binary metadata and frame sampling.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // ---- multimodal plumbing ----
    Query("m_binary_meta",
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest,
        |  64 + octet_length(encode(text)) % 960 AS width,
        |  64 + (octet_length(encode(text)) * 7) % 960 AS height,
        |  3 AS channels
        |FROM documents""".stripMargin)((s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal
        .imageMetaStub(docs, col("payload"))
        .select(
          col("doc_id"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("digest"),
          (lit(64L) + pmod(col("n_bytes").cast("long"), lit(960L))).as("width"),
          (lit(64L) + pmod(col("n_bytes").cast("long") * 7, lit(960L))).as("height"),
          lit(3).as("channels"))
    }),
    Query("m_exif_meta",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS endian,
        |  doc_id % 8 + 1 AS orientation,
        |  64 + doc_id % 2000 AS exif_w,
        |  64 + (doc_id * 3) % 2000 AS exif_h
        |FROM documents""".stripMargin)((s, dir) => {
      // REAL TIFF IFD walk (JPEG APP1/Exif): orientation + pixel dims,
      // alternating byte order by doc parity so the parser proves BOTH
      // endiannesses — payloads synthesized in-plan, oracle predicts
      // arithmetically (the m_image_meta discipline)
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticExifPayload(
          (col("doc_id") % 8 + 1).cast("int"),
          lit(64L) + col("doc_id") % 2000,
          lit(64L) + (col("doc_id") * 3) % 2000,
          col("doc_id") % 2 === 0).as("payload"))
      Multimodal
        .exifMeta(docs, col("payload"))
        .select(
          col("doc_id"), col("endian"),
          col("orientation").cast("long").as("orientation"),
          col("exif_w").cast("long").as("exif_w"),
          col("exif_h").cast("long").as("exif_h"))
    }),
    Query("m_image_meta",
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |  64 + doc_id % 960 AS width,
        |  64 + (doc_id * 7) % 960 AS height
        |FROM documents""".stripMargin)((s, dir) => {
      // REAL header parse (PNG IHDR / JPEG SOFn scan / GIF screen
      // descriptor): payloads are synthesized in-plan with genuine
      // container headers whose dims are doc_id arithmetic, so the DuckDB
      // oracle predicts the parse without any image library — and the
      // parser still has to walk the actual byte layouts to match.
      val fmt = element_at(
        array(lit("png"), lit("jpeg"), lit("gif")), (col("doc_id") % 3 + 1).cast("int"))
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticImagePayload(
          fmt, lit(64L) + col("doc_id") % 960, lit(64L) + (col("doc_id") * 7) % 960)
          .as("payload"))
      Multimodal
        .imageMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),
    Query("m_frames",
      """SELECT doc_id,
        |  CAST(1 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST(i AS BIGINT) AS frame_idx
        |FROM documents, unnest(range(0, CAST(1 + doc_id % 50 AS BIGINT), 3)) AS u(i)""".stripMargin)((s, dir) => {
      // frame-sampling plumbing on the record: every-3rd frame index of a
      // doc_id-derived frame count — the explode runs BEFORE any decode,
      // so a real decoder touches only sampled frames
      val docs = Tables(s, dir).documents.select(
        col("doc_id"), (lit(1L) + col("doc_id") % 50).cast("int").as("n_frames"))
      Multimodal
        .sampleFrames(docs, everyNth = 3, col("n_frames"))
        .select(
          col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))
    }),
    Query("m_audio_meta",
      """SELECT doc_id, 'wav' AS format,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT)
        |    AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(1000 + doc_id % 4000 AS BIGINT) AS n_samples,
        |  CAST((1000 + doc_id % 4000) * 1000
        |    // CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT)
        |    AS duration_ms
        |FROM documents""".stripMargin)((s, dir) => {
      // REAL RIFF/WAVE header parse (chunk walk → fmt + data size):
      // payloads are synthesized in-plan with genuine chunk layouts —
      // half front-loaded with a JUNK alignment chunk — whose PCM shape
      // is doc_id arithmetic, so the DuckDB oracle predicts the parse
      // without any audio library, and the parser still has to walk the
      // actual chunk list to match.
      val channels = (lit(1L) + col("doc_id") % 2).cast("int")
      val rate = element_at(
        array(lit(8000), lit(16000), lit(44100)), (col("doc_id") % 3 + 1).cast("int"))
      val nSamples = (lit(1000L) + col("doc_id") % 4000).cast("int")
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal
          .syntheticWavPayload(channels, rate, lit(16), nSamples, col("doc_id") % 2 === 0)
          .as("payload"))
      Multimodal
        .audioMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("bits").cast("long").as("bits"),
          col("n_samples"),
          col("duration_ms"))
    }),
    Query("m_video_meta",
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT)
        |    AS timescale,
        |  CAST((doc_id + 1) * 30 AS BIGINT) AS duration,
        |  CAST((doc_id + 1) * 30 * 1000
        |    // CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT)
        |    AS duration_ms,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
        |FROM documents""".stripMargin)((s, dir) => {
      // REAL ISO BMFF box walk (ftyp → moov → mvhd + trak count):
      // payloads are synthesized in-plan with genuine nested box layouts
      // whose movie-header fields are doc_id arithmetic, so the DuckDB
      // oracle predicts the parse without any video library.
      val timescale = element_at(
        array(lit(600), lit(1000), lit(90000)), (col("doc_id") % 3 + 1).cast("int"))
      val duration = ((col("doc_id") + 1) * 30).cast("int")
      val nTracks = (lit(1L) + col("doc_id") % 3).cast("int")
      val docs = Tables(s, dir).documents.select(
        col("doc_id"),
        Multimodal.syntheticMp4Payload(timescale, duration, nTracks).as("payload"))
      Multimodal
        .videoMeta(docs, col("payload"))
        .select(
          col("doc_id"),
          col("format"),
          col("timescale").cast("long").as("timescale"),
          col("duration"),
          col("duration_ms"),
          col("n_tracks").cast("long").as("n_tracks"))
    }),
  )
}
