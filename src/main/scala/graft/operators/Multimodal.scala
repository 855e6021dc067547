package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{ByteHistogram, ImageHeader, ImageHeaderKernel}

/** Multimodal column convention (north_star): image/audio/video payloads
  * travel as opaque `binary` columns with a typed metadata struct beside
  * them — the layout a 100 TB training-data pipeline needs (payload stays
  * columnar/compressed, metadata is filterable without touching bytes,
  * partition pruning works on metadata).
  *
  * Schema convention:
  *   content:  BINARY                      — raw encoded bytes
  *   meta:     STRUCT<modality: STRING, format: STRING, width: INT,
  *                    height: INT, n_bytes: BIGINT, sha1: STRING>
  *
  * The decode kernels are real, pure-JVM, and codegen'd: image headers
  * (PNG/JPEG/GIF magic bytes → format/width/height) via the
  * [[graft.functions.ImageHeader]] expression, and a deterministic
  * byte-histogram embedding via [[graft.functions.ByteHistogram]]. A
  * full pixel decode / learned embedding would slot into the same column
  * positions (the container ships no image libraries); everything around
  * them — schema, filter pushdown on metadata, per-partition batching —
  * is the production shape.
  */
object Multimodal {

  /** Wrap a binary column into the convention (metadata computed from the
    * payload itself; format/width/height filled by [[decodeImageMeta]]).
    */
  def attachMeta(df: DataFrame, contentCol: String, modality: String, format: String): DataFrame =
    df.withColumn("meta", struct(
      lit(modality).as("modality"),
      lit(format).as("format"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      length(col(contentCol)).cast("long").as("n_bytes"),
      sha1(col(contentCol)).as("sha1")))

  /** Header-decode kernel: parses format/width/height from the payload's
    * magic bytes (PNG IHDR, JPEG SOFn walk, GIF screen descriptor) into
    * the meta struct — single codegen'd expression, no shuffle, no UDF.
    * Unrecognized payloads keep the declared format and null dimensions.
    */
  def decodeImageMeta(df: DataFrame, contentCol: String): DataFrame = {
    val h = ImageHeader(col(contentCol))
    df.withColumn("meta", col("meta")
      .withField("format", coalesce(h.getField("format"), col("meta.format")))
      .withField("width", h.getField("width"))
      .withField("height", h.getField("height")))
  }

  /** Audio sibling of [[decodeImageMeta]]: typed metadata from WAV
    * container headers ([[graft.functions.WavHeader]] — codec, channels,
    * sample rate, bit depth, frame count, duration) appended as an
    * `audio` struct column; null for non-WAV payloads.
    */
  def decodeAudioMeta(df: DataFrame, contentCol: String): DataFrame =
    df.withColumn("audio", graft.functions.WavHeader(col(contentCol)))

  /** Signal-level triage over 16-bit PCM WAV payloads
    * ([[graft.functions.WavStats]]): RMS/peak loudness, silence and
    * clipping fractions — the pre-transcription audio-curation filter,
    * one codegen pass per row, null for other codecs.
    */
  def decodeAudioStats(df: DataFrame, contentCol: String): DataFrame =
    df.withColumn("audio_stats", graft.functions.WavStats(col(contentCol)))

  /** Video sibling of [[decodeImageMeta]]: typed metadata from ISO-BMFF
    * (MP4/MOV/M4A) container boxes ([[graft.functions.Mp4Header]] —
    * major brand, movie timescale, duration, track count) appended as a
    * `video` struct column; null for non-MP4 payloads. Header-prefix
    * sampling works: a truncated payload keeps the brand with null
    * duration once `moov` is out of reach.
    */
  def decodeVideoMeta(df: DataFrame, contentCol: String): DataFrame =
    df.withColumn("video", graft.functions.Mp4Header(col(contentCol)))

  /** Feature extraction over the convention: normalized byte-histogram
    * vector per payload (fixed dim, deterministic) — the plumbing shape
    * of an embedding model output, computed by a codegen'd kernel.
    */
  def embed(content: Column, dim: Int = 64): Column = ByteHistogram(content, dim)

  /** Per-partition batched decode — the Scala analog of a Pandas-UDF /
    * mapInPandas kernel: rows stream through in partition-sized batches,
    * the decoder amortizes setup once per partition, and output is one
    * row per input with decoded fields appended. Runs the same header
    * kernel as [[decodeImageMeta]]; a heavyweight decoder (native lib,
    * model weights) would initialize where marked and keep this exact
    * batching contract.
    */
  def decodePartitions(df: DataFrame, contentCol: String): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("dec_format", StringType),
      StructField("dec_width", IntegerType),
      StructField("dec_height", IntegerType)))
    val idx = df.schema.fieldIndex(contentCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      // per-partition setup would happen here (decoder/model init)
      rows.map { r =>
        val hdr = ImageHeaderKernel.parse(r.getAs[Array[Byte]](idx))
        val extra: Seq[Any] =
          if (hdr == null) Seq(null, null, null)
          else Seq(hdr.getUTF8String(0).toString, hdr.getInt(1), hdr.getInt(2))
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
      }
    }(enc)
  }

  /** Frame/chunk sampling for video/audio payloads: split the byte
    * stream into `n` equal chunks, one row each — the partition-friendly
    * fan-out a frame sampler produces.
    */
  def sampleChunks(df: DataFrame, contentCol: String, n: Int): DataFrame =
    df.withColumn("chunk_id", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("chunk", {
        val sz = greatest((length(col(contentCol)) / n).cast("int"), lit(1))
        // the LAST chunk runs to the end of the payload — flooring
        // length/n would otherwise silently drop up to n-1 trailing bytes
        when(col("chunk_id") === n - 1,
          col(contentCol).substr(col("chunk_id") * sz + 1,
            length(col(contentCol)) - col("chunk_id") * sz))
          .otherwise(col(contentCol).substr(col("chunk_id") * sz + 1, sz))
      })

  /** Time-based frame-sample plan for video payloads: duration comes
    * from the ISO-BMFF header ([[graft.functions.Mp4Header]]), and each
    * video fans out into `n` evenly-spaced sample timestamps — the rows
    * a frame decoder would fill with pixels (the decode itself stays
    * stubbed: no codec exists in this image; the Spark-side shape —
    * per-row header parse, explode fan-out, no shuffle — is the real
    * contract). Payloads without a parseable duration produce no rows.
    */
  def sampleFrameTimes(df: DataFrame, contentCol: String, n: Int): DataFrame =
    df.withColumn("__dur",
        graft.functions.Mp4Header(col(contentCol)).getField("duration_ms"))
      .filter(col("__dur").isNotNull && col("__dur") > 0)
      .withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("t_ms", round(col("frame_idx") * col("__dur") / n, 3))
      .drop("__dur")
}
