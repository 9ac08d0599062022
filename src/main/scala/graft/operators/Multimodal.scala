package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads ride as opaque `binary`
  * columns with a typed metadata struct; decode / feature-extraction runs
  * per-partition in executor-side batches (the Scala analogue of
  * `mapInPandas`), so nothing media-shaped ever crosses the driver.
  *
  * The decode step is REAL for uncompressed rasters: [[PpmCodec]] parses
  * netpbm P6 payloads byte for byte, and [[ppmStats]] grades decoded pixel
  * output against a DuckDB oracle that recomputes the same arithmetic from
  * the source bytes (registry entry mm3). COMPRESSED decode is real for
  * PNG — [[PngCodec]], zlib + scanline filters from `java.util.zip` alone,
  * graded by [[pngRoundtripStats]] (mm5). JPEG/H.264 (DCT/entropy coders)
  * need libraries this container lacks; they plug into the same
  * per-partition batch shape via [[decodeFeatures]]'s codec parameter.
  */
object Multimodal {

  /** Typed row for the media zone: payload + metadata struct. */
  final case class MediaRow(media_id: Long, mime: String, nbytes: Long,
                            digest: String, payload: Array[Byte])

  final case class MediaFeatures(media_id: Long, nbytes: Long,
                                 width: Int, height: Int,
                                 feature: Array[Float])

  /** Pack a text column as an opaque binary payload with typed metadata —
    * the ingest shape for any media kind. */
  def packBinary(df: DataFrame, idCol: String, textCol: String,
                 mime: String = "application/octet-stream"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mime).as("mime"),
      length(col(textCol).cast("binary")).cast("long").as("nbytes"),
      md5(col(textCol).cast("binary")).as("digest"),
      col(textCol).cast("binary").as("payload"))

  /** One sampled frame of a media payload. `ts_ms` is the stub's fixed
    * 25fps clock (frame_idx × 40 ms). */
  final case class FrameRow(media_id: Long, frame_idx: Int, ts_ms: Long,
                            frame: Array[Byte])

  /** STUB resize: a real implementation decodes, scales to fit `maxBytes`,
    * and re-encodes; the fake truncates the payload (same 1→1 partition-
    * local shape, metadata — nbytes, digest — recomputed for the NEW bytes,
    * which is the part real pipelines get wrong). */
  def resize(media: DataFrame, maxBytes: Int): Dataset[MediaRow] = {
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val out = if (r.payload.length <= maxBytes) r.payload
          else java.util.Arrays.copyOf(r.payload, maxBytes)
        MediaRow(r.media_id, r.mime, out.length.toLong, md5Hex(md, out), out)
      }
    }
  }

  /** STUB frame sampling — the 1→N generator shape of video handling: the
    * payload is treated as fixed-size frames and every `everyNth` frame is
    * emitted as its own row (a real codec seeks keyframes; the slicing,
    * fan-out, and per-frame schema are what Spark sees either way). Frames
    * stay executor-side; the fan-out multiplies rows, never driver state. */
  def frameSample(media: DataFrame, frameBytes: Int,
                  everyNth: Int = 1): Dataset[FrameRow] = {
    implicit val rowEnc = Encoders.product[MediaRow]
    implicit val frameEnc = Encoders.product[FrameRow]
    media.as[MediaRow].flatMap { r =>
      val nFrames = r.payload.length / frameBytes
      (0 until nFrames by everyNth).iterator.map { i =>
        FrameRow(r.media_id, i, i * 40L,
          java.util.Arrays.copyOfRange(r.payload, i * frameBytes,
            (i + 1) * frameBytes))
      }
    }
  }

  /** Per-partition batched feature extraction over the binary column —
    * executor-side, codec instantiated once per partition (not per row),
    * mirroring the `mapInPandas` batch shape. The codec is a parameter:
    * `(payload, dims) => (width, height, feature)` — [[PpmCodec]]-backed
    * for rasters ([[ppmFeatureCodec]], the default), a library-backed
    * decoder for compressed media, a test double in specs. */
  def decodeFeatures(media: DataFrame, dims: Int = 8,
      codec: (Array[Byte], Int) => (Int, Int, Array[Float]) =
        ppmFeatureCodec): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition setup: a real codec handle would be created here
      rows.map { r =>
        val (w, h, f) = codec(r.payload, dims)
        MediaFeatures(r.media_id, r.nbytes, w, h, f)
      }
    }
  }

  /** Real raster feature codec: PPM-decode, then per-channel means cycled
    * to `dims` (dims=3 is plain RGB means; larger dims repeat channels —
    * a deterministic stand-in for a learned embedding's projection). */
  def ppmFeatureCodec(payload: Array[Byte], dims: Int): (Int, Int, Array[Float]) = {
    val (w, h, rgb) = PpmCodec.decode(payload)
    val sums = channelSums(rgb)
    val n = (w * h).toFloat
    (w, h, Array.tabulate(dims)(d => sums(d % 3) / n / 255.0f))
  }

  /** Per-channel byte sums (R, G, B) of an interleaved RGB raster. */
  private def channelSums(rgb: Array[Byte]): Array[Long] = {
    val sums = new Array[Long](3)
    var i = 0
    while (i < rgb.length) {
      sums(i % 3) += java.lang.Byte.toUnsignedInt(rgb(i))
      i += 1
    }
    sums
  }

  /** Lowercase hex MD5 of `bytes` on a per-partition digest instance. */
  private def md5Hex(md: java.security.MessageDigest,
                     bytes: Array[Byte]): String = {
    md.reset()
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** [[md5Hex]] of the UPPERCASE hex rendering of `bytes`: the digest
    * form an oracle without blob-digest support rebuilds from the source
    * bytes. */
  private def md5OfHex(md: java.security.MessageDigest,
                       bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append("%02X".format(b)))
    md5Hex(md, sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }

  /** Encode each document's text bytes (cycled to fill the raster) as a
    * REAL PPM P6 image: fixed width, height derived from byte length —
    * both engines can rebuild the identical pixels, so the decode grades.
    * Empty texts are dropped (no zero-pixel image exists in the format). */
  def ppmFromText(df: DataFrame, idCol: String, textCol: String,
                  width: Int = 8): Dataset[MediaRow] =
    mediaFromText(df, idCol, textCol, "image/x-portable-pixmap", 1) {
      (_, txt) =>
        val (h, rgb) = raster(txt, width)
        PpmCodec.encode(width, h, rgb)
    }

  /** The body of the `*FromText` encoders: each text of at least `minLen`
    * bytes becomes one `mime` payload, `encode(id, bytes)`, with its length
    * and MD5 (one digest instance per partition). */
  private def mediaFromText(df: DataFrame, idCol: String, textCol: String,
                            mime: String, minLen: Int)(
      encode: (Long, Array[Byte]) => Array[Byte]): Dataset[MediaRow] = {
    implicit val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    implicit val rowEnc = Encoders.product[MediaRow]
    df.select(col(idCol).cast("long"), col(textCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .filter((r: (Long, Array[Byte])) => r._2 != null && r._2.length >= minLen)
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, txt) =>
          val payload = encode(id, txt)
          MediaRow(id, mime, payload.length.toLong, md5Hex(md, payload),
            payload)
        }
      }
  }

  /** The text-derived RGB raster: h = 1 + (byte length mod 16) rows of
    * `width` pixels whose bytes cycle the text's bytes. Returns (h, rgb). */
  private def raster(txt: Array[Byte], width: Int): (Int, Array[Byte]) = {
    val h = 1 + (txt.length % 16)
    (h, Array.tabulate(width * h * 3)(i => txt(i % txt.length)))
  }

  /** mm3's graded row: decoded dims, EXACT per-channel byte sums (integer,
    * so the grade never rests on float rounding), and the byte sum of a
    * real nearest-neighbor half-resolution resize of the decoded raster. */
  final case class PpmStats(media_id: Long, width: Int, height: Int,
                            sum_r: Long, sum_g: Long, sum_b: Long,
                            half_sum: Long)

  /** mm4's graded row: resized dims, re-encoded payload size, and an md5
    * over the re-encoded payload's hex — pins every byte the ENCODER
    * emits, header included. */
  final case class PpmResized(media_id: Long, rw: Int, rh: Int,
                              nbytes2: Long, enc_hex_md5: String)

  /** mm4: the ENCODER path graded — decode the P6 payload, nearest-
    * neighbor resize to (max(w/2,1), max(h/2,1)), RE-ENCODE with
    * [[PpmCodec.encode]], and digest the emitted bytes (md5 of the
    * uppercase hex, so the oracle can rebuild the identical string from
    * the source bytes without blob-digest support). mm3 grades decode;
    * this closes the loop — a header-format or raster-offset bug in the
    * encoder moves the digest. Executor-side per partition, like every
    * media op. */
  def ppmResizeReencode(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[PpmResized]
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, rgb) = PpmCodec.decode(r.payload)
        val (rw, rh) = (math.max(w / 2, 1), math.max(h / 2, 1))
        val half = PpmCodec.resizeNearest(w, h, rgb, rw, rh)
        val out = PpmCodec.encode(rw, rh, half)
        PpmResized(r.media_id, rw, rh, out.length.toLong, md5OfHex(md, out))
      }
    }.toDF()
  }

  /** mm5's graded row: dims plus per-channel sums and a pixel digest of
    * the raster AFTER a full PNG encode→decode roundtrip. */
  final case class PngStats(media_id: Long, width: Int, height: Int,
                            sum_r: Long, sum_g: Long, sum_b: Long,
                            pix_hex_md5: String)

  /** mm5: COMPRESSED-format decode graded — transcode each P6 payload to
    * a real PNG ([[PngCodec.encode]], Paeth-filtered scanlines, zlib via
    * `java.util.zip`) and decode it back, then grade the decoded raster's
    * per-channel sums and pixel digest. The oracle rebuilds the same
    * numbers from the source bytes: PNG is lossless, so the roundtrip is
    * identity when — and only when — filter math, zlib framing and chunk
    * CRCs are all correct; any codec bug throws (red) or moves a graded
    * integer (red). Deflater streams are JDK-specific, which is why the
    * graded contract is the decoded raster rather than encoded bytes
    * (PngSpec pins "real PNG" against `javax.imageio` both directions).
    * Executor-side per partition, like every media op. */
  def pngRoundtripStats(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[PngStats]
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, rgb) = PpmCodec.decode(r.payload)
        val (w2, h2, rgb2) = PngCodec.decode(PngCodec.encode(w, h, rgb))
        require(w2 == w && h2 == h, s"png roundtrip moved dims to ${w2}x$h2")
        val sums = channelSums(rgb2)
        PngStats(r.media_id, w, h, sums(0), sums(1), sums(2),
          md5OfHex(md, rgb2))
      }
    }.toDF()
  }

  /** mm6's graded row: decoded format fields plus EXACT per-channel
    * sample sums and the peak magnitude — integers, so the grade never
    * rests on float rounding. */
  final case class WavStats(media_id: Long, sample_rate: Int, channels: Int,
                            n_frames: Long, sum_l: Long, sum_r: Long,
                            peak: Int)

  /** Encode each document's text bytes as a REAL stereo 16-bit PCM WAV:
    * sample i's low byte is text byte i, its high byte is a deterministic
    * mix ((text[(i+1) mod m]·3 + i) mod 256, so negative samples occur and
    * the int16 sign path is exercised), channels interleave L/R by sample
    * parity. Even-id docs get a LIST chunk planted between fmt and data —
    * the decoder must WALK chunks, not assume offsets. Both engines can
    * rebuild the identical samples from the text, so the decode grades. */
  def wavFromText(df: DataFrame, idCol: String, textCol: String,
                  sampleRate: Int = 8000): Dataset[MediaRow] =
    mediaFromText(df, idCol, textCol, "audio/wav", 2) { (id, txt) =>
      val m = txt.length - (txt.length % 2)
      val samples = Array.tabulate[Short](m) { i =>
        val low = txt(i) & 0xFF
        val high = ((txt((i + 1) % m) & 0xFF) * 3 + i) % 256
        ((high << 8) | low).toShort
      }
      val extra =
        if (id % 2 == 0) Some(txt.take(math.min(5, txt.length))) else None
      WavCodec.encode(sampleRate, 2, samples, extra)
    }

  /** mm6: REAL audio decode graded — parse the RIFF container (chunk walk
    * incl. the planted LIST chunks), decode int16 LE PCM, and grade the
    * per-channel sample sums, frame count and peak magnitude. A header-
    * offset, endianness or sign bug moves a graded integer. Executor-side
    * per partition, like every media op. */
  def wavStats(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[WavStats]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (rate, ch, samples) = WavCodec.decode(r.payload)
        var sl = 0L
        var sr = 0L
        var peak = 0
        var i = 0
        while (i < samples.length) {
          val v = samples(i).toInt
          if (i % 2 == 0) sl += v else sr += v
          if (math.abs(v) > peak) peak = math.abs(v)
          i += 1
        }
        WavStats(r.media_id, rate, ch, (samples.length / ch).toLong,
          sl, sr, peak)
      }
    }.toDF()
  }

  /** mm8's graded row: full-window count, silent-window count, longest
    * silent run, and the exact left-channel energy — all integers. */
  final case class WavSilence(media_id: Long, n_windows: Long,
                              silent_windows: Long, max_silent_run: Long,
                              energy_l: Long)

  /** mm8: frame-energy silence profile over the LEFT channel of REAL
    * decoded PCM — fixed `win`-sample windows, energy = Σv² kept exact in
    * int64 (v² ≤ 2³⁰, win·v² ≪ 2⁶³), a window is silent below `threshold`,
    * and the longest silent run is a per-doc gaps-and-islands scan. Only
    * COMPLETE windows count (the tail is dropped — the convention the
    * oracle mirrors); the total energy covers every left sample. The loop
    * is executor-side and bounded by each doc's own sample count, like
    * every media op. */
  def wavSilence(media: Dataset[MediaRow], threshold: Long = 4000000000L,
                 win: Int = 16): DataFrame = {
    implicit val enc = Encoders.product[WavSilence]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (_, ch, samples) = WavCodec.decode(r.payload)
        val nf = samples.length / ch
        val nWin = nf / win
        var energyAll = 0L
        var f = 0
        while (f < nf) {
          val v = samples(f * ch).toLong
          energyAll += v * v
          f += 1
        }
        var silent = 0L
        var maxRun = 0L
        var run = 0L
        var k = 0
        while (k < nWin) {
          var e = 0L
          var j = 0
          while (j < win) {
            val v = samples((k * win + j) * ch).toLong
            e += v * v
            j += 1
          }
          if (e < threshold) {
            run += 1; silent += 1
            if (run > maxRun) maxRun = run
          } else run = 0
          k += 1
        }
        WavSilence(r.media_id, nWin.toLong, silent, maxRun, energyAll)
      }
    }.toDF()
  }

  /** REAL decode read-out over PPM media: parse the P6 payload, sum each
    * channel, resize nearest-neighbor to (max(w/2,1), max(h/2,1)) and sum
    * the resized bytes. Any header-parse or pixel-offset bug moves these
    * integers. Executor-side per partition; nothing media-shaped hits the
    * driver. */
  def ppmStats(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[PpmStats]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, rgb) = PpmCodec.decode(r.payload)
        val sums = channelSums(rgb)
        val (rw, rh) = (math.max(w / 2, 1), math.max(h / 2, 1))
        val half = PpmCodec.resizeNearest(w, h, rgb, rw, rh)
        var hs = 0L
        var j = 0
        while (j < half.length) {
          hs += java.lang.Byte.toUnsignedInt(half(j)); j += 1
        }
        PpmStats(r.media_id, w, h, sums(0), sums(1), sums(2), hs)
      }
    }.toDF()
  }

  final case class BmpStats(media_id: Long, width: Int, height: Int,
                            sum_r: Long, sum_g: Long, sum_b: Long,
                            top_half_sum: Long, first_px: Long)

  /** Deterministic BMP corpus from text — [[ppmFromText]]'s shape through
    * [[BmpCodec]]: h = 1 + (len mod 16), w = 7 (odd on purpose: a 21-byte
    * row forces the 4-byte stride padding every real BMP reader must
    * honor), pixel bytes cycle the raw UTF-8 text. */
  def bmpFromText(df: DataFrame, idCol: String, textCol: String,
                  width: Int = 7): Dataset[MediaRow] =
    mediaFromText(df, idCol, textCol, "image/bmp", 1) { (_, txt) =>
      val (h, rgb) = raster(txt, width)
      BmpCodec.encode(width, h, rgb)
    }

  /** Decode-and-audit for BMP payloads: per-channel sums (row-order
    * invariant) PLUS two positional probes that are NOT — the top-half
    * all-channel sum (wrong if bottom-up rows aren't flipped) and the
    * first pixel packed as R·65536+G·256+B (wrong if BGR isn't swapped or
    * the stride padding shifts row starts). */
  def bmpStats(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[BmpStats]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, rgb) = BmpCodec.decode(r.payload)
        val sums = channelSums(rgb)
        var topHalf = 0L
        var j = 0
        val topEnd = (h / 2) * w * 3
        while (j < topEnd) {
          topHalf += java.lang.Byte.toUnsignedInt(rgb(j)); j += 1
        }
        val firstPx =
          java.lang.Byte.toUnsignedInt(rgb(0)).toLong * 65536 +
            java.lang.Byte.toUnsignedInt(rgb(1)) * 256 +
            java.lang.Byte.toUnsignedInt(rgb(2))
        BmpStats(r.media_id, w, h, sums(0), sums(1), sums(2), topHalf,
          firstPx)
      }
    }.toDF()
  }
}
