package graft.queries

import graft.Tables
import graft.operators.{Multimodal => MM}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types._

/** Multimodal-column coverage: binary media payloads flowing through the
  * engine with typed metadata + per-row feature extraction (operators
  * .Multimodal). The corpus is synthesized deterministically from
  * `documents` (seeded by doc_id) because the testdata ships no media
  * files — the plumbing (binary columns, decode loop, feature schema,
  * no-shuffle plan) is exactly what real media would traverse.
  *
  * Every query here is DuckDB-oracled, including the pixel and sample
  * paths: q_multimodal_features generates deterministic two-tone PNGs
  * (lossless), decodes them for REAL through the JDK ImageIO codec, and
  * checks exact per-channel pixel sums against their closed form in SQL;
  * q_multimodal_audio does the same through the JDK javax.sound.sampled
  * codec with two-tone PCM WAVs and per-channel sample sums.
  */
object MultimodalQueries {

  val defs: Seq[QueryDef] = Seq(
    // REAL image decode, value-checked: per doc a two-tone RGB PNG whose
    // per-channel pixel sums have a closed form (h * w/2 * (left+right)
    // with left_c = id*(c+1) % 256, right_c = (id*(c+1)+97) % 256). The
    // Spark side round-trips PNG encode → binary column → ImageIO decode →
    // raster traversal; the oracle replays the arithmetic relationally.
    // All-integer output — the hash compare is exact.
    QueryDef(
      "q_multimodal_features",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"))
        val mediaSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("media", BinaryType)))
        val media = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, MM.synthesizePng(id,
              width = 16 + (id % 8).toInt * 2, height = 16 + (id % 5).toInt))
          }
        }(Encoders.row(mediaSchema))
        MM.pixelFeatures(media, "media").orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'png' AS format,
             |  CAST(16 + (doc_id % 8) * 2 AS INTEGER) AS width,
             |  CAST(16 + doc_id % 5 AS INTEGER) AS height,
             |  CAST(3 AS INTEGER) AS channels,
             |  CAST((16 + doc_id % 5) * (8 + doc_id % 8)
             |    * (doc_id % 256 + (doc_id + 97) % 256) AS BIGINT) AS sum_c0,
             |  CAST((16 + doc_id % 5) * (8 + doc_id % 8)
             |    * ((doc_id * 2) % 256 + (doc_id * 2 + 97) % 256) AS BIGINT) AS sum_c1,
             |  CAST((16 + doc_id % 5) * (8 + doc_id % 8)
             |    * ((doc_id * 3) % 256 + (doc_id * 3 + 97) % 256) AS BIGINT) AS sum_c2
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio decode, value-checked: per doc a two-tone 16-bit PCM WAV
    // whose per-channel sample sums have a closed form (frames/2 * (l+r)
    // with l_c = id*(c+1) % 3000, r_c = (id*(c+1)+977) % 3000). The Spark
    // side round-trips WAV encode → binary column → javax.sound.sampled
    // decode → interleaved-sample traversal; the oracle replays the
    // arithmetic relationally. All-integer output — the hash compare is
    // exact. Mono docs (even ids) report sum_c1 = 0.
    QueryDef(
      "q_multimodal_audio",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"))
        val mediaSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("media", BinaryType)))
        val media = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, MM.synthesizeWav(id,
              channels = 1 + (id % 2).toInt,
              frames = 200 + (id % 50).toInt * 2,
              sampleRate = 8000 + (id % 3).toInt * 4000))
          }
        }(Encoders.row(mediaSchema))
        MM.audioFeatures(media, "media").orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'wav' AS format,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             |  CAST(200 + (doc_id % 50) * 2 AS BIGINT) AS n_frames,
             |  CAST((100 + doc_id % 50)
             |    * (doc_id % 3000 + (doc_id + 977) % 3000) AS BIGINT) AS sum_c0,
             |  CAST(CASE WHEN doc_id % 2 = 1 THEN (100 + doc_id % 50)
             |    * ((doc_id * 2) % 3000 + (doc_id * 2 + 977) % 3000)
             |    ELSE 0 END AS BIGINT) AS sum_c1
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The decode METADATA path oracled: format/dimensions/byte-count are
    // pure functions of doc_id through synthesize → binary column →
    // mapPartitions decode, so DuckDB can replay them relationally — the
    // binary round-trip (big-endian header encode/decode, magic check,
    // schema) is hash-verified; only the LCG byte statistics stay
    // rows-only above (64-bit wrapping multiply isn't portable SQL).
    QueryDef(
      "q_multimodal_meta",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"))
        val mediaSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("media", BinaryType)))
        val media = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, MM.synthesize(id,
              width = (id % 640).toInt + 16, height = (id % 480).toInt + 16,
              channels = if (id % 7 == 0) 1 else 3))
          }
        }(Encoders.row(mediaSchema))
        MM.features(media, "media")
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("channels"), col("n_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'gft' AS format,
             |  CAST(doc_id % 640 + 16 AS INTEGER) AS width,
             |  CAST(doc_id % 480 + 16 AS INTEGER) AS height,
             |  CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
             |  CAST(16 + 64 + doc_id % 64 AS BIGINT) AS n_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Frame sampling oracled: every 2nd of 8 equal body chunks per payload;
    // chunk count and sizes are pure functions of doc_id (body = 64 +
    // doc_id % 64 bytes), so the explode shape + per-frame byte accounting
    // hash-verify relationally.
    QueryDef(
      "q_multimodal_frames",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"))
        val mediaSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("media", BinaryType)))
        val media = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, MM.synthesize(id,
              width = (id % 640).toInt + 16, height = (id % 480).toInt + 16,
              channels = if (id % 7 == 0) 1 else 3))
          }
        }(Encoders.row(mediaSchema))
        MM.frameSample(media, "media", frames = 8, step = 2)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(length(col("frame")).cast("long")).as("frame_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
             |  CAST(4 * ((64 + doc_id % 64) // 8) AS BIGINT) AS frame_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL video decode, value-checked: per doc an uncompressed RIFF-AVI
    // (BI_RGB DIB frames — a standards-compliant file ffmpeg/VLC can
    // play) whose per-channel whole-video pixel sums have a closed form:
    // frame i, channel c sums to h * w/2 * (l + r) with
    // l = (id*(c+1)+i) % 256, r = (l+97) % 256. The Spark side builds the
    // container, demuxes it back with the real RIFF walker, decodes every
    // bottom-up BGR raster, and sums channels in RGB order; the oracle
    // replays the arithmetic over an unnested frame index. All-integer —
    // the hash compare is exact. (MJPG AVIs ride the same demux with the
    // JDK JPEG codec per frame; parity is spec-pinned in MultimodalSpec
    // since JPEG sums have no closed form.)
    QueryDef(
      "q_multimodal_video",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"))
        val mediaSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("media", BinaryType)))
        val media = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, MM.synthesizeAvi(id,
              width = 16 + (id % 4).toInt * 4,
              height = 8 + (id % 3).toInt * 2,
              nFrames = 3 + (id % 4).toInt))
          }
        }(Encoders.row(mediaSchema))
        MM.videoFeatures(media, "media").orderBy("doc_id")
      },
      Some("""WITH idx AS (SELECT UNNEST([0, 1, 2, 3, 4, 5]) AS i),
             |per AS (
             |  SELECT d.doc_id, x.i,
             |         16 + (d.doc_id % 4) * 4 AS w,
             |         8 + (d.doc_id % 3) * 2 AS h
             |  FROM documents d, idx x
             |  WHERE x.i < 3 + d.doc_id % 4)
             |SELECT doc_id, 'avi' AS format,
             |  CAST(MIN(w) AS INTEGER) AS width,
             |  CAST(MIN(h) AS INTEGER) AS height,
             |  CAST(3 + doc_id % 4 AS INTEGER) AS n_frames,
             |  CAST(SUM(h * (w // 2) * ((doc_id + i) % 256 + (doc_id + i + 97) % 256)) AS BIGINT) AS sum_c0,
             |  CAST(SUM(h * (w // 2) * ((doc_id * 2 + i) % 256 + (doc_id * 2 + i + 97) % 256)) AS BIGINT) AS sum_c1,
             |  CAST(SUM(h * (w // 2) * ((doc_id * 3 + i) % 256 + (doc_id * 3 + i + 97) % 256)) AS BIGINT) AS sum_c2
             |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
