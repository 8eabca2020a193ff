package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexStore, Tables}

/** Multimodal-column plumbing: opaque binary payloads + typed metadata.
  *
  * The Spark-side shape is real and tested — a `BinaryType` payload
  * column processed in executor batches via `mapPartitions` over a typed
  * Dataset (one decoder instance per partition, bytes never touch the
  * driver) producing a typed metadata row. [[decode]] parses REAL
  * container headers for three public header-only formats (BMP,
  * farbfeld, PNG IHDR — certified by the `multimodal_bmp_decode`
  * round-trip oracle); payloads in no recognized format fall back to
  * [[decodeStub]], which derives deterministic fake dimensions from an
  * md5 of the bytes (this sandbox has no pixel codecs). A real
  * deployment adds codec branches beside the header parsers; nothing
  * else changes — schema, partitioning, batch shape are
  * production-real.
  *
  * The test corpus has no binary media, so `documents.text` bytes stand
  * in as the payload (UTF-8, so DuckDB's md5(text) sees the same bytes
  * and the oracle can replicate the fake decode arithmetic exactly).
  *
  * Frame sampling: a stride-2 sample over the fake frame count, the
  * usual decimation shape for video feature extraction.
  */
object Multimodal {

  case class MediaBlob(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, byte_len: Long, width: Long,
                       height: Long, n_frames: Long, n_sampled: Long,
                       resized_w: Long, resized_h: Long)

  /** Aspect-preserving fit into TargetDim×TargetDim (the resize step of
    * an image pipeline) — pure integer math so the oracle reproduces it
    * exactly; the actual pixel resampling belongs to the stubbed codec. */
  val TargetDim = 224L

  def resizeFit(w: Long, h: Long): (Long, Long) =
    if (w >= h) (TargetDim, math.max(1L, h * TargetDim / w))
    else (math.max(1L, w * TargetDim / h), TargetDim)

  /** STUB decoder: deterministic pseudo-metadata from the payload md5.
    * The fallback for payloads in no recognized container format (the
    * test corpus: UTF-8 text bytes). */
  def decodeStub(payload: Array[Byte]): (Long, Long, Long) = {
    val hex = MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val width = 64L + h % 1857L
    val height = 64L + (h >> 12) % 1017L
    val frames = 1L + (h >> 24) % 16L
    (width, height, frames)
  }

  private def leI32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def leU16(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)

  private val FarbfeldMagic = "farbfeld".getBytes("US-ASCII")

  /** PNG signature (public spec, RFC 2083 §3.1): \x89 'P' 'N' 'G'
    * \r \n \x1a \n — the 0x89 lead byte alone is un-typable in any
    * text payload. */
  private val PngMagic =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** REAL header parsers for four public header-only-decodable
    * formats — the non-stub decode path (the codec-free sandbox can't
    * decode pixel data, but container headers are plain public-spec
    * byte layouts):
    *  - BMP (Windows BITMAPINFOHEADER): 'B''M' magic, little-endian
    *    i32 width at offset 18, i32 height at 22 (negative height =
    *    top-down row order → abs). Guarded on the four RESERVED bytes
    *    at offsets 6-9 being zero, which valid BMP requires and UTF-8
    *    text (no NUL bytes) never satisfies — so text payloads that
    *    merely start with "BM" can't misparse.
    *  - farbfeld (suckless.org): "farbfeld" magic, big-endian u32
    *    width at 8, height at 12. Guarded on the high byte of each dim
    *    being zero (dims < 2^24 — every real image), which again no
    *    text continuation can satisfy.
    *  - PNG (RFC 2083): 8-byte signature, then the IHDR chunk —
    *    big-endian u32 chunk length at offset 8 (must be 13 for
    *    IHDR), ASCII type "IHDR" at 12, big-endian u32 width at 16,
    *    height at 20. The signature's 0x89 lead byte plus the
    *    length==13 and type guards make a false positive impossible;
    *    no pixel codec is ever touched.
    *  - GIF (GIF87a/GIF89a spec): 6-byte ASCII version magic, then
    *    the logical screen descriptor — little-endian u16 width at
    *    offset 6, height at 8. Frame count would need a block walk
    *    (headers only carry screen dims), so GIFs report n_frames = 1
    *    like the other stills.
    * Returns (fmt, width, height, n_frames); unrecognized payloads
    * fall back to the md5 [[decodeStub]] with fmt = "stub". All
    * still images report n_frames = 1. */
  def decode(payload: Array[Byte]): (String, Long, Long, Long) = {
    if (payload.length >= 26 && payload(0) == 'B' && payload(1) == 'M' &&
        payload(6) == 0 && payload(7) == 0 && payload(8) == 0 && payload(9) == 0 &&
        // only the BITMAPINFOHEADER layout (DIB size 40) puts i32 dims
        // at 18/22 — an OS/2 BITMAPCOREHEADER (size 12) stores u16 dims
        // at 18/20 and would misparse; unsupported variants fall to the
        // stub rather than fabricate dimensions
        leI32(payload, 14) == 40L) {
      val w = leI32(payload, 18).toInt
      val h = leI32(payload, 22).toInt
      ("bmp", math.abs(w.toLong), math.abs(h.toLong), 1L)
    } else if (payload.length >= 16 &&
        payload.startsWith(FarbfeldMagic) &&
        payload(8) == 0 && payload(12) == 0) {
      ("farbfeld", beU32(payload, 8), beU32(payload, 12), 1L)
    } else if (payload.length >= 24 &&
        payload.startsWith(PngMagic) &&
        beU32(payload, 8) == 13L &&
        payload(12) == 'I' && payload(13) == 'H' &&
        payload(14) == 'D' && payload(15) == 'R') {
      ("png", beU32(payload, 16), beU32(payload, 20), 1L)
    } else if (payload.length >= 13 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == '8' && (payload(4) == '7' || payload(4) == '9') &&
        payload(5) == 'a' &&
        // pixel-aspect-ratio byte 0 (= unspecified, the overwhelmingly
        // common case) doubles as the text-false-positive guard: ASCII
        // text after a literal "GIF89a" can't contain a NUL. The rare
        // nonzero-aspect GIF falls to the stub rather than misparse.
        payload(12) == 0) {
      ("gif", leU16(payload, 6), leU16(payload, 8), 1L)
    } else {
      val (w, h, f) = decodeStub(payload)
      ("stub", w, h, f)
    }
  }

  /** Minimal valid BMP: 14-byte file header + 40-byte BITMAPINFOHEADER
    * (no pixel data — header-only fixtures for the parser). */
  def bmpBytes(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
      .putInt(54).putInt(0).putInt(54) // size, reserved, data offset
      .putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24) // planes, bpp
    bb.array()
  }

  def farbfeldBytes(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(FarbfeldMagic).putInt(width).putInt(height)
    bb.array()
  }

  /** Farbfeld with REAL pixel data: the 16-byte header followed by
    * w·h big-endian RGBA16 pixels, each channel a deterministic
    * function of (doc_id, x, y) — the same synthesize-then-parse
    * honesty contract as the header fixtures, extended to the pixel
    * array so the resample kernel has real bytes to chew. 8-bit
    * channel values ride farbfeld's 16-bit lanes as v·257 (the
    * canonical 8→16 widening). */
  def farbfeldPixelBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + width * height * 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(FarbfeldMagic).putInt(width).putInt(height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = ((id + 7L * x + 13L * y) % 256L).toInt
        val g = ((3L * id + 5L * x + 11L * y) % 256L).toInt
        val b = ((7L * id + 3L * x + 17L * y) % 256L).toInt
        bb.putShort((r * 257).toShort).putShort((g * 257).toShort)
          .putShort((b * 257).toShort).putShort(0xFFFF.toShort)
        x += 1
      }
      y += 1
    }
    bb.array()
  }

  /** REAL pixel decode + 2×2 box downsample: parse the farbfeld
    * header AND pixel array from the bytes, average each 2×2 block
    * per channel with integer division (odd edge rows/columns drop —
    * floor semantics, mirrored by the oracle), and return the output
    * dims plus exact per-channel sums of the downsampled image. All
    * integer math end to end: any byte-offset, endianness, or
    * stride bug shifts a sum and mismatches the oracle. */
  def decodeFarbfeldResize(payload: Array[Byte]): (Long, Long, Long, Long, Long, Long, Long) = {
    require(payload.length >= 16 && payload.startsWith(FarbfeldMagic),
      "not a farbfeld payload")
    val w = beU32(payload, 8).toInt
    val h = beU32(payload, 12).toInt
    def ch(x: Int, y: Int, c: Int): Long = {
      val off = 16 + (y.toLong * w + x).toInt * 8 + c * 2
      (((payload(off) & 0xFF) << 8) | (payload(off + 1) & 0xFF)).toLong / 257L
    }
    val ow = w / 2
    val oh = h / 2
    var sr = 0L; var sg = 0L; var sb = 0L
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val x = ox * 2; val y = oy * 2
        var c = 0
        while (c < 3) {
          val m = (ch(x, y, c) + ch(x + 1, y, c) +
            ch(x, y + 1, c) + ch(x + 1, y + 1, c)) / 4L
          c match {
            case 0 => sr += m
            case 1 => sg += m
            case 2 => sb += m
          }
          c += 1
        }
        ox += 1
      }
      oy += 1
    }
    (w.toLong, h.toLong, ow.toLong, oh.toLong, sr, sg, sb)
  }

  /** Minimal valid PNG prefix: signature + full IHDR chunk (length,
    * type, 13 data bytes — w, h, bit depth 8, color type 2/truecolor,
    * compression 0, filter 0, interlace 0 — and the 4-byte CRC slot;
    * header-only fixture, no pixel chunks). */
  def pngBytes(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(33)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(PngMagic)
      .putInt(13).put("IHDR".getBytes("US-ASCII"))
      .putInt(width).putInt(height)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    bb.array()
  }

  /** Minimal valid GIF header (GIF89a spec, public): 6-byte version
    * magic + logical screen descriptor — little-endian u16 width at 6,
    * height at 8, then packed flags, background index, aspect ratio 0. */
  def gifBytes(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(13)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes("US-ASCII"))
      .putShort(width.toShort).putShort(height.toShort)
      .put(0x70.toByte).put(0.toByte).put(0.toByte)
    bb.array()
  }

  /** Canonical 44-byte PCM WAV header (RIFF spec, public): "RIFF"
    * size "WAVE", "fmt " chunk (16 bytes: PCM tag 1, channels,
    * sample rate, byte rate, block align, bits), "data" chunk size.
    * Header-only fixture like [[bmpBytes]]. */
  def wavBytes(rate: Int, channels: Int, bits: Int, nSamples: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataSize = nSamples * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    bb.array()
  }

  /** Sun AU header (public spec): ".snd" magic then five big-endian
    * u32 fields — header size, data size, encoding (3 = 16-bit linear
    * PCM), sample rate, channels. */
  def auBytes(rate: Int, channels: Int, nSamples: Int): Array[Byte] = {
    val dataSize = nSamples * channels * 2
    val bb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(".snd".getBytes("US-ASCII"))
      .putInt(24).putInt(dataSize).putInt(3).putInt(rate).putInt(channels)
    bb.array()
  }

  /** Real audio-container header parse — the audio twin of [[decode]]:
    *  - WAV: canonical RIFF/WAVE PCM layout (guarded on the "fmt "
    *    chunk at 12 with PCM tag 1 — non-canonical chunk orders fall
    *    to the stub rather than misparse); channels le16@22, rate
    *    le32@24, bits le16@34, data size le32@40.
    *  - AU: ".snd" magic, encoding 3 (16-bit PCM) guarded, rate/
    *    channels/data size from the big-endian header.
    * Returns (fmt, rate, channels, n_samples, duration_ms) with
    * duration an integer-division of exact longs (oracle-safe). */
  def decodeAudio(payload: Array[Byte]): (String, Long, Long, Long, Long) = {
    def s(off: Int, n: Int) = new String(payload, off, n, "US-ASCII")
    if (payload.length >= 44 && s(0, 4) == "RIFF" && s(8, 4) == "WAVE" &&
        s(12, 4) == "fmt " && leU16(payload, 20) == 1L) {
      val channels = leU16(payload, 22)
      val rate = leI32(payload, 24)
      val bits = leU16(payload, 34)
      val dataSize = leI32(payload, 40)
      val nSamples = dataSize / (channels * bits / 8)
      ("wav", rate, channels, nSamples, nSamples * 1000L / rate)
    } else if (payload.length >= 24 && s(0, 4) == ".snd" &&
        beU32(payload, 12) == 3L) {
      val dataSize = beU32(payload, 8)
      val rate = beU32(payload, 16)
      val channels = beU32(payload, 20)
      val nSamples = dataSize / (channels * 2L)
      ("au", rate, channels, nSamples, nSamples * 1000L / rate)
    } else {
      val (w, h, _) = decodeStub(payload)
      ("stub", w, h, 0L, 0L)
    }
  }

  private val AudioRates = Array(8000, 16000, 22050, 44100, 48000)

  /** Oracled audio round-trip on the [[multimodalBmpDecode]] pattern:
    * synthesize a WAV (even doc_id) or AU (odd) container with
    * rate/channels/length derived from doc_id, parse it back with the
    * real header decoders, emit what the parser read; the oracle
    * predicts the fields from doc_id — any endianness/offset/guard bug
    * in either parser mismatches. Narrow, zero-shuffle. */
  def multimodalAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val rate = AudioRates((id % 5).toInt)
          val channels = 1 + (id % 2).toInt
          val nSamples = 1000 + (id % 9000).toInt
          val payload =
            if (id % 2 == 0) wavBytes(rate, channels, 16, nSamples)
            else auBytes(rate, channels, nSamples)
          val (fmt, r, c, n, ms) = decodeAudio(payload)
          (id, fmt, r, c, n, ms)
        }
      }.toDF("doc_id", "fmt", "sample_rate", "channels", "n_samples", "duration_ms")
  }

  /** Binary payload table: doc_id + the bytes. In production this is
    * `spark.read.format("binaryFile")` or a parquet BinaryType column. */
  def blobs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Decode + frame-sample metadata, one decoder per partition. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    blobs(spark, dir).as[MediaBlob].mapPartitions { it =>
      it.map { b =>
        val (_, w, h, frames) = decode(b.payload)
        val (rw, rh) = resizeFit(w, h)
        MediaMeta(b.doc_id, b.payload.length.toLong, w, h,
          frames, (frames + 1) / 2, rw, rh)
      }
    }.toDF()
  }

  case class FrameRow(doc_id: Long, frame_idx: Long, frame_hash: Long)

  /** Frame sampling + per-frame feature extraction: every STRIDE-th
    * frame of the fake decode, with a deterministic per-frame content
    * hash (stand-in for a per-frame embedding/feature call). The
    * explode happens in the executor batch loop — frames of one
    * payload never leave their partition before the feature step. */
  val FrameStride = 2

  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    blobs(spark, dir).as[MediaBlob].mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.flatMap { b =>
        val (_, _, _, frames) = decode(b.payload)
        (0L until frames by FrameStride).map { idx =>
          md.reset()
          md.update(b.payload)
          md.update(s"#$idx".getBytes("UTF-8"))
          val hex = md.digest().map("%02x".format(_)).mkString
          FrameRow(b.doc_id, idx, java.lang.Long.parseLong(hex.substring(0, 15), 16))
        }
      }
    }.toDF()
  }

  /** Materialize each document's payload as a real on-disk file, once
    * per CORPUS, as an [[IndexStore]] layout — written from
    * EXECUTORS via foreachPartition so bytes never pass through the
    * driver. The directory is content-keyed, so regenerated fixture data
    * at the same path gets a fresh directory instead of stale files, and
    * a shrunk corpus cannot leave orphaned extra files in view. */
  def binaryFileDir(spark: SparkSession, dir: String): String =
    IndexStore.getOrBuildLayout(spark, dir, "documents", "binary") { out =>
      import spark.implicits._
      out.mkdirs()
      val outPath = out.getAbsolutePath
      blobs(spark, dir).as[MediaBlob].foreachPartition {
        (it: Iterator[MediaBlob]) =>
          it.foreach { b =>
            java.nio.file.Files.write(
              new java.io.File(outPath, f"doc_${b.doc_id}%08d.bin").toPath,
              b.payload)
          }
      }
    }.getAbsolutePath

  /** The REAL binary-media source: `spark.read.format("binaryFile")`
    * over actual files (not only an inline byte column), feeding the identical decode
    * pipeline as [[multimodalMeta]] — so the oracle is unchanged. The
    * source carries (path, modificationTime, length, content) with
    * pushdown on path/length; doc_id is recovered from the file name.
    * At scale, `spark.sql.sources.binaryFile.maxLength` guards against
    * oversized payloads and `pathGlobFilter` prunes at listing time. */
  def multimodalBinaryFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(binaryFileDir(spark, dir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("content").as("payload"))
      .as[MediaBlob].mapPartitions { it =>
        it.map { b =>
          val (_, w, h, frames) = decode(b.payload)
          val (rw, rh) = resizeFit(w, h)
          MediaMeta(b.doc_id, b.payload.length.toLong, w, h,
            frames, (frames + 1) / 2, rw, rh)
        }
      }.toDF()
  }

  /** Oracled round-trip certification of the REAL header parsers:
    * synthesize a BMP (doc_id ≡ 0 mod 4), farbfeld (≡ 1), PNG (≡ 2),
    * or GIF (≡ 3) container per document with dimensions derived from
    * doc_id, run the bytes through [[decode]] in executor batches,
    * and emit what the parser read. The oracle predicts the
    * dimensions from doc_id directly — any endianness/offset/guard
    * bug in any of the four parsers mismatches. The synthesizing and
    * parsing happen in the SAME mapPartitions batch, so this is
    * narrow and zero-shuffle. */
  def multimodalBmpDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (64L + id % 1857L).toInt
          val h = (64L + id % 1017L).toInt
          val payload = (id % 4) match {
            case 0 => bmpBytes(w, h)
            case 1 => farbfeldBytes(w, h)
            case 2 => pngBytes(w, h)
            case _ => gifBytes(w, h)
          }
          val (fmt, dw, dh, fr) = decode(payload)
          (id, fmt, dw, dh, fr)
        }
      }.toDF("doc_id", "fmt", "width", "height", "n_frames")
  }

  /** The RESIZE step with real pixel math (upgrades the dimension-only
    * [[resizeFit]] audit): per document, synthesize a pixel-carrying
    * farbfeld image, parse it back byte-by-byte, and 2×2 box-downsample
    * in the same executor batch — narrow, zero-shuffle, the per-row
    * image kernel shape of a production thumbnailing pass. The oracle
    * re-derives the downsampled channel sums from the synthesis
    * arithmetic alone, so it certifies header offsets, the RGBA16
    * stride, the 8↔16-bit widening, AND the box-average rounding. */
  def multimodalPixelResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (8L + id % 9L).toInt
          val h = (6L + id % 7L).toInt
          val payload = farbfeldPixelBytes(id, w, h)
          val (dw, dh, ow, oh, sr, sg, sb) = decodeFarbfeldResize(payload)
          (id, dw, dh, ow, oh, sr, sg, sb)
        }
      }.toDF("doc_id", "width", "height", "out_w", "out_h",
        "sum_r", "sum_g", "sum_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_binary_source" -> (multimodalBinaryFiles _),
    "multimodal_bmp_decode" -> (multimodalBmpDecode _),
    "multimodal_pixel_resize" -> (multimodalPixelResize _),
    "multimodal_audio_decode" -> (multimodalAudioDecode _))

  val oracles: Map[String, String] = Map(
    "multimodal_audio_decode" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'au' END AS fmt,
        |       CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |            WHEN 2 THEN 22050 WHEN 3 THEN 44100
        |            ELSE 48000 END AS BIGINT) AS sample_rate,
        |       1 + doc_id % 2 AS channels,
        |       1000 + doc_id % 9000 AS n_samples,
        |       (1000 + doc_id % 9000) * 1000
        |         // CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |              WHEN 2 THEN 22050 WHEN 3 THEN 44100
        |              ELSE 48000 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    // round-trip: the oracle predicts the dims the synthesizer encoded;
    // the Spark side must PARSE them back out of the container bytes
    // re-derives the downsampled sums from the synthesis arithmetic:
    // channel(x,y) formulas mod 256, 2x2 block integer mean, floor
    // edge-drop — any byte/stride/rounding bug in the decoder mismatches
    "multimodal_pixel_resize" ->
      """WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh, ox.i AS ox, oy.i AS oy
        |  FROM g, LATERAL unnest(generate_series(0, w // 2 - 1)) ox(i),
        |       LATERAL unnest(generate_series(0, h // 2 - 1)) oy(i)),
        |s AS (
        |  SELECT doc_id, w, h, ow, oh,
        |    (  (doc_id + 7*(2*ox)   + 13*(2*oy))   % 256
        |     + (doc_id + 7*(2*ox+1) + 13*(2*oy))   % 256
        |     + (doc_id + 7*(2*ox)   + 13*(2*oy+1)) % 256
        |     + (doc_id + 7*(2*ox+1) + 13*(2*oy+1)) % 256) // 4 AS r,
        |    (  (3*doc_id + 5*(2*ox)   + 11*(2*oy))   % 256
        |     + (3*doc_id + 5*(2*ox+1) + 11*(2*oy))   % 256
        |     + (3*doc_id + 5*(2*ox)   + 11*(2*oy+1)) % 256
        |     + (3*doc_id + 5*(2*ox+1) + 11*(2*oy+1)) % 256) // 4 AS gg,
        |    (  (7*doc_id + 3*(2*ox)   + 17*(2*oy))   % 256
        |     + (7*doc_id + 3*(2*ox+1) + 17*(2*oy))   % 256
        |     + (7*doc_id + 3*(2*ox)   + 17*(2*oy+1)) % 256
        |     + (7*doc_id + 3*(2*ox+1) + 17*(2*oy+1)) % 256) // 4 AS b
        |  FROM px)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
        |       CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(gg) AS BIGINT) AS sum_g,
        |       CAST(SUM(b) AS BIGINT) AS sum_b
        |FROM s GROUP BY doc_id, w, h, ow, oh""".stripMargin,
    "multimodal_bmp_decode" ->
      """SELECT doc_id,
        |       CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'farbfeld'
        |            WHEN 2 THEN 'png' ELSE 'gif' END AS fmt,
        |       64 + doc_id % 1857 AS width,
        |       64 + doc_id % 1017 AS height,
        |       CAST(1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, byte_len, width, height, n_frames,
        |       (n_frames + 1) // 2 AS n_sampled,
        |       CASE WHEN width >= height THEN 224
        |            ELSE greatest(1, width * 224 // height) END AS resized_w,
        |       CASE WHEN width >= height THEN greatest(1, height * 224 // width)
        |            ELSE 224 END AS resized_h
        |FROM (SELECT doc_id, strlen(text) AS byte_len,
        |             64 + h % 1857 AS width,
        |             64 + (h >> 12) % 1017 AS height,
        |             1 + (h >> 24) % 16 AS n_frames
        |      FROM (SELECT doc_id, text,
        |                   CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
        |            FROM documents))""".stripMargin,
    // same arithmetic as multimodal_meta: the binary-source query reads
    // the identical bytes back from real files
    "multimodal_binary_source" ->
      """SELECT doc_id, byte_len, width, height, n_frames,
        |       (n_frames + 1) // 2 AS n_sampled,
        |       CASE WHEN width >= height THEN 224
        |            ELSE greatest(1, width * 224 // height) END AS resized_w,
        |       CASE WHEN width >= height THEN greatest(1, height * 224 // width)
        |            ELSE 224 END AS resized_h
        |FROM (SELECT doc_id, strlen(text) AS byte_len,
        |             64 + h % 1857 AS width,
        |             64 + (h >> 12) % 1017 AS height,
        |             1 + (h >> 24) % 16 AS n_frames
        |      FROM (SELECT doc_id, text,
        |                   CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
        |            FROM documents))""".stripMargin,
    "multimodal_frames" ->
      """WITH meta AS (
        |  SELECT doc_id, text,
        |         1 + (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) >> 24) % 16 AS n_frames
        |  FROM documents)
        |SELECT doc_id, idx AS frame_idx,
        |       CAST(('0x' || substring(md5(text || '#' || idx), 1, 15)) AS BIGINT) AS frame_hash
        |FROM meta, LATERAL unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 2)) t(idx)""".stripMargin)
}
