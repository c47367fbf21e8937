package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media record: structured metadata + an opaque binary payload — the
  * reference's envelope pattern (base64 `data` beside typed header fields,
  * SURVEY.md §7.4 "multimodal") generalized to image/audio/video bytes. */
final case class MediaRecord(
    media_id: Long,
    kind: String,          // "image" | "audio" | "video"
    payload: Array[Byte])

/** Decoded features for one media record. */
final case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Int,
    checksum: Long,
    feature: Array[Double]) // fixed-dim embedding from the (stubbed) decoder

/** Exact pixel statistics decoded from a real image payload: all-integer
  * channel sums, so an oracle that knows the pixel-generation formula can
  * reproduce them bit-exactly (PNG is lossless). */
final case class ImageStats(
    media_id: Long,
    width: Int,
    height: Int,
    n_bytes: Int,
    sum_r: Long,
    sum_g: Long,
    sum_b: Long)

/** 64-bit average-hash of a DECODED image's luma plane, packed as four
  * 16-bit band integers — the LSH-banding unit (q170's layout, fed by
  * real pixels instead of payload bytes). Carries the decoded dimensions
  * as the BLOCKING key the band join composes with: a 16-bit band space
  * saturates near 2^16 items (beyond that, same-value collisions make
  * candidates grow n²/2^16 — measured as the sf1→sf10 exponent spike on
  * the fingerprint family), and dimension blocking defers that by the
  * number of distinct shapes while staying semantically exact for this
  * position-bucketed hash (hashes of different-shaped rasters bucket
  * different pixel sets and are not comparable anyway). */
final case class ImageAHash(
    media_id: Long,
    width: Int,
    height: Int,
    b0: Long,
    b1: Long,
    b2: Long,
    b3: Long)

/** Reconstruction statistics for a LOSSY (JPEG) image payload: exact
  * dimensions plus per-channel absolute-error sums against the formula
  * raster — the bound-oracle unit (exact dims + pinned mean-error
  * ceilings), since byte-exact lossy output is codec-version-specific. */
final case class JpegReconStats(
    media_id: Long,
    width: Int,
    height: Int,
    n_bytes: Int,
    err_r: Long,
    err_g: Long,
    err_b: Long,
    n_px: Long)

/** Exact sample statistics decoded from a real audio payload: all-integer
  * amplitude/energy sums, so an oracle that knows the waveform-generation
  * formula reproduces them bit-exactly (WAV PCM is lossless). */
final case class AudioStats(
    media_id: Long,
    sample_rate: Int,
    n_samples: Long,
    sum_amp: Long,
    sum_sq: Long)

/** 64-bit energy fingerprint of a DECODED waveform, packed as four 16-bit
  * band integers — the audio twin of [[ImageAHash]], and the same LSH
  * banding unit. `n_samples` is the blocking key (duration blocking, the
  * audio-fingerprinting standard): see [[ImageAHash]] for the band-space
  * saturation it defers. */
final case class AudioFingerprint(
    media_id: Long,
    n_samples: Long,
    b0: Long,
    b1: Long,
    b2: Long,
    b3: Long)

/** Reconstruction statistics for a LOSSY (MJPEG-AVI) video payload:
  * exact container facts (dims, frame counts) plus per-channel
  * absolute-error sums over the SAMPLED frames against the formula
  * rasters — [[JpegReconStats]]' video twin. */
final case class VideoReconStats(
    media_id: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    n_sampled: Int,
    err_r: Long,
    err_g: Long,
    err_b: Long,
    n_px: Long)

/** Exact pixel statistics decoded from a real video payload (RIFF/AVI with
  * uncompressed DIB frames): all-integer channel sums over the SAMPLED
  * frames, so an oracle that knows the frame-generation formula reproduces
  * them bit-exactly (uncompressed DIB is lossless). */
final case class VideoStats(
    media_id: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    n_sampled: Int,
    sum_r: Long,
    sum_g: Long,
    sum_b: Long)

/** 64-bit average-hash over a DECODED clip's sampled-frame luma stream,
  * packed as four 16-bit band integers — [[ImageAHash]]'s video twin and
  * the same LSH banding unit. Dimensions + frame count are the blocking
  * key (see [[ImageAHash]] for the band-space saturation it defers). */
final case class VideoFingerprint(
    media_id: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    b0: Long,
    b1: Long,
    b2: Long,
    b3: Long)

/** Multimodal-column plumbing (SURVEY.md §7.4): treat media as opaque binary
  * columns with typed metadata; run decode/feature-extraction as a
  * per-partition batch pipeline — the Scala analog of `mapInPandas`
  * (`Dataset.mapPartitions` over case-class rows: one iterator per partition,
  * expensive codec state initialized once per partition, not per row).
  *
  * IMAGE decode is REAL (round-10 verdict #4): [[Decoder.decodeImage]]
  * runs JDK ImageIO (PNG/JPEG/BMP/GIF — no external deps) inside the same
  * batched mapPartitions pipeline, and q326 gates it end-to-end against an
  * exact oracle (PNG is lossless, so pixel sums of a formula-generated
  * image survive the encode→decode round trip bit-exactly).
  *
  * AUDIO decode is REAL too (round-11 verdict #2): [[Decoder.decodeAudio]]
  * runs the JDK's WAV/PCM codec (the `javax.sound.sampled.spi` providers
  * AudioSystem resolves to, cached per JVM — AudioSystem's own per-call
  * provider lookup takes a process-wide lock that serialized all decode
  * threads) the same way, gated end-to-end by q332 (WAV PCM is
  * lossless, so amplitude/energy sums of a formula-rendered waveform
  * survive the encode→decode round trip bit-exactly).
  *
  * VIDEO decode is REAL as well (round-12): [[Decoder.decodeVideo]] demuxes
  * a RIFF/AVI container (hand-written chunk walk — the demux IS the video
  * format; no JDK class reads RIFF) holding uncompressed 24-bit DIB frames,
  * then decodes each SAMPLED frame's raster with the JDK's ImageIO BMP
  * codec (bottom-up BGR rows + 4-byte padding are the codec's problem, not
  * ours), gated end-to-end by q334 (uncompressed DIB is lossless, so the
  * per-frame channel sums of formula-generated rasters survive the
  * container round trip bit-exactly). Frame SAMPLING — decode every k-th
  * frame, skip the rest — is the op real video pipelines run, and it
  * happens at the demux layer: skipped frames' bytes are never rasterized.
  *
  * The generic byte-stream feature stub ([[Decoder.decodeStub]]) is no
  * longer covering for a missing codec anywhere — it remains as the cheap
  * modality-agnostic feature extractor (q64-q66) that a real deployment
  * swaps for learned embeddings.
  */
object Multimodal {

  val FeatureDim = 8

  /** Fixture ids fanned out to the session's full parallelism before any
    * codec work. The gate corpora are SINGLE parquet files, so the
    * documents scan yields ONE partition and every synthetic encode +
    * decode below it would otherwise run single-threaded (round-16
    * measurement: q341/q344 were the two slowest queries of BENCH at
    * 5.2-5.8 s with 31 cores idle; the miner and KMeans already fan out
    * for exactly this reason). The exchange moves 8-byte ids only —
    * payloads are synthesized AFTER it (guide §2.3: shuffle keys, not
    * payloads) — and the decode stages inherit the fan-out because
    * mapPartitions is narrow. Production media sources arrive as many
    * files (binaryFile / payload-column parquet) and keep their scan
    * partitioning; this helper only equalizes the one-file fixture. */
  private def fixtureIds(docs: DataFrame): Dataset[Long] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id")).as[Long]
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
  }

  object Decoder {
    // In-memory ImageIO streams: with the default useCache=true,
    // ImageIO.read(InputStream)/write(…, OutputStream) spool EVERY payload
    // through a FileCache temp file — measured 80 vs 26 µs/decode on a
    // 12×10 PNG, plus disk I/O and finalizer pressure on executors. Our
    // inputs are in-memory byte arrays, so every call site below wraps
    // them in MemoryCache image streams EXPLICITLY (the ImageInputStream
    // overloads never consult the cache flag) instead of flipping the
    // JVM-global ImageIO.setUseCache, which would silently strip
    // disk-backed caching from every other ImageIO consumer in the JVM.

    /** Image decodes performed by this JVM — spec instrumentation only
      * (StreamingMultimodalSpec pins decodeImageWithHash's one-decode-per-
      * record contract against it); never read on the hot path. */
    private[graft] val decodeCalls = new java.util.concurrent.atomic.AtomicLong

    /** ImageIO decode from heap bytes, never a temp file. Null if no
      * installed reader accepts the payload (ImageIO.read's contract). */
    private def readInMemory(payload: Array[Byte]): java.awt.image.BufferedImage = {
      decodeCalls.incrementAndGet()
      javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload)))
    }

    /** ImageIO encode to heap bytes, never a temp file. */
    private def writeInMemory(bi: java.awt.image.BufferedImage,
        format: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try {
        javax.imageio.ImageIO.write(bi, format, ios)
        ios.flush() // drain the memory cache into `out`
      } finally ios.close()
      out.toByteArray
    }

    /** Exact `a·b > c·d` over nonnegative longs WITHOUT overflow: the
      * fingerprint bit rule cross-multiplies a bucket sum by the global
      * count (and vice versa), and on a REAL corpus those products pass
      * 2^63 — a 2-hour clip has ~1e14 sampled pixels, a long recording
      * ~1e10 samples. Compare the full 128-bit products via
      * Math.multiplyHigh + unsigned-low tiebreak; allocation-free. */
    private[multimodal] def gtCross(a: Long, b: Long, c: Long, d: Long): Boolean = {
      val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
      val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
      if (hi1 != hi2) hi1 > hi2
      else java.lang.Long.compareUnsigned(lo1, lo2) > 0
    }
    /** STUB decode: deterministic fake features (per-stride byte means).
      * Accumulates in DOUBLE with ascending-index order so the result is
      * bit-deterministic and engine-comparable (q65's oracle recomputes the
      * same arithmetic in SQL); a real codec replaces this wholesale —
      * signature and batch usage stay identical. */
    def decodeStub(payload: Array[Byte]): Array[Double] = {
      val f = new Array[Double](FeatureDim)
      var i = 0
      while (i < payload.length) {
        f(i % FeatureDim) += (payload(i) & 0xff) / 255.0
        i += 1
      }
      if (payload.length > 0) {
        var k = 0
        while (k < FeatureDim) { f(k) /= payload.length; k += 1 }
      }
      f
    }

    /** REAL image decode via JDK ImageIO: payload bytes → BufferedImage →
      * exact integer per-channel pixel sums. Returns None for payloads no
      * installed reader accepts (corrupt bytes, unknown container) — the
      * error-record path, never an exception. */
    def decodeImage(mediaId: Long, payload: Array[Byte]): Option[ImageStats] = {
      val img =
        try Option(readInMemory(payload))
        catch { case _: java.io.IOException => None }
      img.map { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        ImageStats(mediaId, w, h, payload.length, sr, sg, sb)
      }
    }

    /** Render the deterministic test pattern for `media_id` and encode it
      * as a real PNG byte stream — the distributed fixture generator for
      * [[decodeImage]]'s oracle-gated round trip. Channel formulas are
      * small-coprime affine maps mod 256 so the oracle (DuckDB) can
      * recompute the exact sums without any codec. */
    def encodeTestPng(mediaId: Long, w: Int, h: Int,
        bright: Boolean = false): Array[Byte] =
      writeInMemory(renderPattern(mediaId, w, h, bright), "png")

    /** Render the q326 deterministic RGB test pattern — the shared raster
      * behind the PNG (exact-oracle) and JPEG (bound-oracle) fixtures.
      * Channel formulas are small-coprime affine maps mod 256 so an
      * oracle can recompute exact sums without any codec. */
    private[multimodal] def renderPattern(mediaId: Long, w: Int, h: Int,
        bright: Boolean): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // `bright` = the injected near-duplicate edit (q328): a 3-pixel
          // white patch in the top-left corner — a local edit that flips
          // only the touched aHash buckets' bits, like a logo overlay.
          val (r, g, b) =
            if (bright && y == 0 && x < 3) (255, 255, 255)
            else (((7 * mediaId + 11 * x + 13 * y) % 256).toInt,
              ((5 * mediaId + 3 * x + 17 * y) % 256).toInt,
              ((mediaId + 19 * x + 23 * y) % 256).toInt)
          bi.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      bi
    }

    /** The fixed encode quality for every JPEG fixture: pinned so the
      * codec's quantization tables — and therefore the reconstruction
      * error the bound oracle ceilings — are deterministic per payload. */
    val JpegQuality = 0.85f

    /** Fibonacci-hash id scramble for the JPEG fixtures: the q326 affine
      * patterns are linear in the raw id, so nearby/congruent ids render
      * CORRELATED rasters whose aHashes band-collide at ~0.6%/pair —
      * quadratic candidate growth that is a property of the fixture, not
      * the operator. The JPEG oracles are bound-form (dims + invariant
      * flags; DuckDB never recomputes pixels), so the fixture is free to
      * decorrelate ids. Deterministic, and positive after the shift. */
    private[multimodal] def scrambleId(mediaId: Long): Long =
      (mediaId * 0x9E3779B97F4A7C15L) >>> 8

    /** Render the NOISE test pattern for the JPEG near-dup fixture (q340):
      * per-pixel hashed channels, so distinct ids' rasters — and their
      * aHashes — are statistically INDEPENDENT. The affine q326 pattern
      * family produces correlated bucket means whatever the id (measured
      * ~0.6% band-collision rate per pair — quadratic candidate growth at
      * scale, a fixture artifact, not an operator property); iid noise
      * puts band collisions at the 4·2⁻¹⁶ ≈ 6e-5 a real decorrelated
      * corpus shows. Deterministic: splitmix-style finalizer over
      * (sid, x, y). */
    private[multimodal] def renderNoisePattern(sid: Long, w: Int, h: Int,
        bright: Boolean): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb =
            if (bright && y == 0 && x < 3) 0xffffff
            else {
              var z = sid ^ (x * 0xC2B2AE3D27D4EB4FL) ^
                (y * 0x9E3779B97F4A7C15L)
              z *= 0xFF51AFD7ED558CCDL
              z ^= z >>> 33
              (z & 0xffffff).toInt
            }
          bi.setRGB(x, y, rgb)
          x += 1
        }
        y += 1
      }
      bi
    }

    /** Render the SMOOTH deterministic test pattern for the JPEG fixtures:
      * low-gradient affine channel maps (2-4 levels/pixel vs q326's
      * 11-23) so the raster lives in JPEG's natural regime — smooth
      * content the DCT represents compactly. The q326 pattern is
      * spatially high-frequency noise, which JPEG destroys (measured
      * mean |err| up to 51/255 — barely below the ~85 of random output,
      * a vacuous bound); on this pattern the pinned error ceilings are
      * tight enough to actually catch a broken decode. Wrap edges
      * (255→0 sawtooth steps) still occur at id-dependent positions, so
      * distinct ids' rasters and hashes decorrelate. */
    private[multimodal] def renderSmoothPattern(mediaId: Long, w: Int, h: Int,
        bright: Boolean): java.awt.image.BufferedImage = {
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // `bright` = the injected near-duplicate edit (q340): the same
          // 3-pixel white patch as q328 — a local edit confined to the
          // top-left DCT block, the JPEG analog of a logo overlay.
          val (r, g, b) =
            if (bright && y == 0 && x < 3) (255, 255, 255)
            else (((7 * mediaId + 2 * x + 3 * y) % 256).toInt,
              ((5 * mediaId + 3 * x + 2 * y) % 256).toInt,
              ((11 * mediaId + x + 4 * y) % 256).toInt)
          bi.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      bi
    }

    /** Render the q326 test pattern and encode it as a real JPEG byte
      * stream at the pinned [[JpegQuality]] — the LOSSY sibling of
      * [[encodeTestPng]], covering what real 100 TB image corpora are
      * actually made of. ImageWriter instances are not thread-safe and
      * not reentrant, so one is allocated per call (µs-cheap vs the DCT
      * work) and disposed. */
    def encodeTestJpeg(mediaId: Long, w: Int, h: Int,
        bright: Boolean = false, smooth: Boolean = true): Array[Byte] = {
      // two fixture regimes, deliberately split: the SMOOTH pattern is
      // JPEG's natural content, where the recon-error bound (q339) is
      // tight enough to catch a broken decode; the NOISY q326 pattern
      // gives the high-variance luma the near-dup hash (q340) needs —
      // smooth rasters cluster every bucket mean at the global mean, so
      // codec noise flips dozens of marginal bits (measured Hamming 29/64
      // for a 3-pixel edit), while noisy rasters keep bit margins wide
      val sid = scrambleId(mediaId)
      val bi =
        if (smooth) renderSmoothPattern(sid, w, h, bright)
        else renderNoisePattern(sid, w, h, bright)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(JpegQuality)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
        ios.flush()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** Per-channel reconstruction error of a LOSSY payload against the
      * formula raster it was encoded from: decode with ImageIO, require
      * exact dimensions, and sum |decoded − formula| per channel. The
      * bound oracle pins the exact dims plus a per-channel mean-error
      * ceiling — the invariant any correct JPEG decode must satisfy,
      * since the byte-exact pixels are codec-version-specific. None for
      * undecodable payloads or dimension drift (both are decode errors). */
    def jpegReconStats(mediaId: Long, payload: Array[Byte], w: Int, h: Int,
        bright: Boolean = false, smooth: Boolean = true): Option[JpegReconStats] = {
      val img =
        try Option(readInMemory(payload))
        catch { case _: java.io.IOException => None }
      img.flatMap { bi =>
        if (bi.getWidth != w || bi.getHeight != h) None
        else {
          val sid = scrambleId(mediaId)
          val ref =
            if (smooth) renderSmoothPattern(sid, w, h, bright)
            else renderNoisePattern(sid, w, h, bright)
          var er = 0L; var eg = 0L; var eb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = bi.getRGB(x, y); val q = ref.getRGB(x, y)
              er += math.abs(((p >> 16) & 0xff) - ((q >> 16) & 0xff))
              eg += math.abs(((p >> 8) & 0xff) - ((q >> 8) & 0xff))
              eb += math.abs((p & 0xff) - (q & 0xff))
              x += 1
            }
            y += 1
          }
          Some(JpegReconStats(mediaId, w, h, payload.length,
            er, eg, eb, w.toLong * h))
        }
      }
    }

    /** Render + PNG-encode the SCRAMBLED near-dup fixture pattern (q328):
      * channels are high bytes of quadratic congruential mixes of
      * v = (id mod 2^16) + 131x + 137y — nonlinear in v, so the x/y
      * coefficients of the expanded polynomial depend on the id and
      * distinct ids' rasters genuinely decorrelate (the affine q326
      * family's aHashes band-collide at ~0.6%/pair whatever the id —
      * simulated here: 4 collision pairs per 3000 ids, the iid floor ×
      * the dimension blocking). Every term stays < 2^63 and uses only
      * `%`/`//`, so DuckDB recomputes the raster EXACTLY — this fixture
      * keeps q328's exact oracle, unlike q340's bound form. */
    def encodeNoisePng(mediaId: Long, w: Int, h: Int,
        bright: Boolean = false): Array[Byte] = {
      val M = 4294967296L
      val s = mediaId % 65536L
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb =
            if (bright && y == 0 && x < 3) 0xffffff
            else {
              val v = s + 131L * x + 137L * y
              val r = ((((v * v * 100003L + v * 7919L + s * 104729L) % M)
                >> 16) & 255L).toInt
              val g = ((((v * v * 100019L + v * 6841L + s * 99991L) % M)
                >> 16) & 255L).toInt
              val b = ((((v * v * 100043L + v * 9173L + s * 95783L) % M)
                >> 16) & 255L).toInt
              (r << 16) | (g << 8) | b
            }
          bi.setRGB(x, y, rgb)
          x += 1
        }
        y += 1
      }
      writeInMemory(bi, "png")
    }

    /** Render the q326-style test pattern as an INDEXED-color GIF. GIF's
      * pixel model is a ≤256-entry palette + LZW-compressed indices —
      * both LOSSLESS — so the q326 exact-oracle recipe transfers
      * verbatim provided the raster is palette-expressible: the fixture
      * stores index `(7·id + 11·x + 13·y) mod 256` against the fixed
      * bijective palette `j → ((11j+3)%256, (17j+5)%256, (23j+7)%256)`,
      * and the decoded RGB is a closed form DuckDB recomputes (q347).
      * Indices are written straight into the TYPE_BYTE_INDEXED raster —
      * setRGB would nearest-match through the palette instead of storing
      * the intended index. The writer may reorder or prune the palette;
      * decoded per-pixel RGB — all any consumer reads — is invariant.
      * ANIMATED GIFs decode under the FIRST-FRAME policy
      * (ImageIO.read's contract), spec-pinned in MultimodalSpec. */
    def encodeTestGif(mediaId: Long, w: Int, h: Int): Array[Byte] = {
      val rs = new Array[Byte](256); val gs = new Array[Byte](256)
      val bs = new Array[Byte](256)
      var j = 0
      while (j < 256) {
        rs(j) = ((11 * j + 3) % 256).toByte
        gs(j) = ((17 * j + 5) % 256).toByte
        bs(j) = ((23 * j + 7) % 256).toByte
        j += 1
      }
      encodeIndexedGif(w, h, rs, gs, bs)((x, y) =>
        ((7 * mediaId + 11 * x + 13 * y) % 256).toInt)
    }

    /** Render the q328 quadratic-congruential NOISE pattern as a
      * GRAYSCALE-palette GIF — the near-dup fixture (q348). The palette
      * is the identity gray ramp `j → (j,j,j)`, so the flat aHash luma
      * of a decoded pixel IS its stored index and DuckDB recomputes the
      * exact hash bits (GIF is lossless; q328's exact-oracle form, not
      * q340's bound form). One hash channel of [[encodeNoisePng]]'s mix
      * supplies the index; `bright` is the same 3-pixel white patch
      * (index 255 = white on the gray ramp). */
    def encodeNoiseGif(mediaId: Long, w: Int, h: Int,
        bright: Boolean = false): Array[Byte] = {
      val gray = Array.tabulate[Byte](256)(j => j.toByte)
      val M = 4294967296L
      val s = mediaId % 65536L
      encodeIndexedGif(w, h, gray, gray, gray) { (x, y) =>
        if (bright && y == 0 && x < 3) 255
        else {
          val v = s + 131L * x + 137L * y
          ((((v * v * 100003L + v * 7919L + s * 104729L) % M)
            >> 16) & 255L).toInt
        }
      }
    }

    private def encodeIndexedGif(w: Int, h: Int, rs: Array[Byte],
        gs: Array[Byte], bs: Array[Byte])(idx: (Int, Int) => Int): Array[Byte] = {
      val icm = new java.awt.image.IndexColorModel(8, 256, rs, gs, bs)
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = bi.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, idx(x, y))
          x += 1
        }
        y += 1
      }
      writeInMemory(bi, "gif")
    }

    val AudioSampleRate = 8000f

    /** The JDK's audio codec SPI instances, resolved ONCE per JVM.
      * `AudioSystem.getAudioInputStream`/`write` re-run the provider
      * lookup on EVERY call behind a process-wide lock
      * (JDK13Services.getProviders is synchronized), which serializes all
      * 32 decode threads — measured: 32 threads ran at 0.7× the
      * speed of ONE (and the q332/q333 real-sf1 scaling exponent at
      * 1.38/1.16 where every other heavy is ≤0.7). The provider objects
      * themselves (WaveFileReader/WaveFileWriter) are stateless and
      * reentrant, so hoisting the lookup keeps the codec identical and
      * removes the lock from the row path. */
    private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) b += it.next()
      b.result()
    }
    private lazy val audioWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
      while (it.hasNext) b += it.next()
      b.result()
    }
    /** The JDK's format-conversion SPI instances (UlawCodec, AlawCodec,
      * …), resolved ONCE per JVM for the same reason as [[audioReaders]]:
      * `AudioSystem.getAudioInputStream(targetEncoding, stream)` re-runs
      * the synchronized provider lookup per call. The codec objects are
      * stateless; each conversion constructs its own wrapper stream. */
    private lazy val audioConverters
        : Array[javax.sound.sampled.spi.FormatConversionProvider] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.FormatConversionProvider])
        .iterator()
      val b = Array.newBuilder[javax.sound.sampled.spi.FormatConversionProvider]
      while (it.hasNext) b += it.next()
      b.result()
    }

    /** Lock-free WAV encode via the cached writer SPI (same codec
      * AudioSystem.write would resolve to). */
    private def writeWave(ais: javax.sound.sampled.AudioInputStream,
        out: java.io.OutputStream): Unit = {
      val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
      audioWriters.find(w => w.isFileTypeSupported(t, ais)) match {
        case Some(w) => w.write(ais, t, out); ()
        case None => throw new java.io.IOException("no WAVE writer installed")
      }
    }

    /** Lock-free container open via the cached reader SPI (same codecs
      * AudioSystem.getAudioInputStream would resolve to). The
      * last-successful reader is tried FIRST: ServiceLoader order is
      * AIFF, AU, SoftMidi, then WAVE, so a WAV corpus would otherwise pay
      * three failed sniffs (~21 µs of exceptions, including the Gervill
      * SoftMidi reader's 13 µs) before the 0.7 µs WaveFileReader hit —
      * measured per-call costs. */
    @volatile private var preferredReader = 0
    private def openAudio(
        payload: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] = {
      val rs = audioReadersArr
      // codec-less JVM (no AudioFileReader SPI at all): degrade to the
      // error-record path — rs(pref) below would otherwise throw an
      // ArrayIndexOutOfBoundsException that escapes decodeSamples' narrow
      // catch and fails the task instead of dropping the row
      if (rs.isEmpty) return None
      val pref = preferredReader
      var j = -1 // -1 = the preferred slot, then everything else in order
      while (j < rs.length) {
        val i = if (j == -1) pref else j
        if (j == -1 || i != pref) {
          try {
            val s = rs(i).getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
            preferredReader = i
            return Some(s)
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
            case _: java.io.IOException => ()
          }
        }
        j += 1
      }
      None
    }
    private lazy val audioReadersArr = audioReaders.toArray

    /** Render the deterministic test waveform for `media_id` and encode it
      * as a real WAV byte stream (16-bit signed PCM mono, little-endian) —
      * the distributed fixture generator for [[decodeAudio]]'s oracle-gated
      * round trip. The sample formula `((13·id + 7·i) mod 4096) − 2048` is
      * small-integer affine so the oracle (DuckDB) recomputes the exact
      * amplitude/energy sums without any codec. */
    def encodeTestWav(mediaId: Long, nSamples: Int, channels: Int = 1,
        bits: Int = 16): Array[Byte] = {
      require(nSamples % channels == 0,
        s"interleaved sample count $nSamples must fill whole $channels-channel frames")
      require(bits == 8 || bits == 16 || bits == 24, s"unsupported depth $bits")
      // the i-th INTERLEAVED sample follows the one formula stream at
      // every depth/channel layout, so the oracle's sums are layout-blind:
      //   8-bit  (unsigned container): stored (13id+7i)%256, decoded −128
      //   16-bit: ((13id+7i)%4096)−2048
      //   24-bit: the 16-bit value × 4096 — exercising the high byte a
      //           depth-truncating decode bug would drop
      val bpS = bits / 8
      val pcm = new Array[Byte](nSamples * bpS)
      var i = 0
      while (i < nSamples) {
        if (bits == 8) {
          pcm(i) = ((13 * mediaId + 7 * i) % 256).toByte
        } else {
          val s16 = (((13 * mediaId + 7 * i) % 4096) - 2048).toInt
          if (bits == 16) {
            pcm(2 * i) = (s16 & 0xff).toByte // little-endian lo
            pcm(2 * i + 1) = ((s16 >> 8) & 0xff).toByte
          } else {
            val s = s16 * 4096
            pcm(3 * i) = (s & 0xff).toByte
            pcm(3 * i + 1) = ((s >> 8) & 0xff).toByte
            pcm(3 * i + 2) = ((s >> 16) & 0xff).toByte
          }
        }
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        AudioSampleRate, bits, channels, bits != 8, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt,
        (nSamples / channels).toLong)
      val out = new java.io.ByteArrayOutputStream()
      writeWave(ais, out)
      out.toByteArray
    }

    /** REAL audio decode via the JDK's WAV/PCM reader: payload bytes →
      * AudioInputStream → exact integer amplitude and energy sums over the
      * 16-bit samples. Returns None for payloads no installed reader
      * accepts or non-16-bit-PCM content — the error-record path, never an
      * exception. */
    def decodeAudio(mediaId: Long, payload: Array[Byte]): Option[AudioStats] =
      decodeSamples(payload).map { case (rate, samples) =>
        var sa = 0L; var sq = 0L
        var i = 0
        while (i < samples.length) {
          val s = samples(i)
          sa += s; sq += s.toLong * s
          i += 1
        }
        AudioStats(mediaId, rate, samples.length.toLong, sa, sq)
      }

    /** Encode a deterministic µ-law or a-law WAV (telephony layout:
      * format tag 7/6, 8 kHz, 8-bit mono): the stored bytes ARE the
      * formula stream `(13·id + 7·i) mod 256` taken as G.711 CODES —
      * companding ENCODE is lossy, so the fixture pins the code bytes and
      * the oracle recomputes the DECODE side, which is a fixed bijective
      * 256-entry table (verified bit-equal to the JDK's UlawCodec/
      * AlawCodec over all 256 codes; see q332's oracle for the closed
      * form). */
    def encodeCompandedTestWav(mediaId: Long, nSamples: Int,
        alaw: Boolean): Array[Byte] = {
      val codes = new Array[Byte](nSamples)
      var i = 0
      while (i < nSamples) {
        codes(i) = ((13 * mediaId + 7 * i) % 256).toByte
        i += 1
      }
      val enc =
        if (alaw) javax.sound.sampled.AudioFormat.Encoding.ALAW
        else javax.sound.sampled.AudioFormat.Encoding.ULAW
      val fmt = new javax.sound.sampled.AudioFormat(
        enc, AudioSampleRate, 8, 1, 1, AudioSampleRate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(codes), fmt, nSamples.toLong)
      val out = new java.io.ByteArrayOutputStream()
      writeWave(ais, out)
      out.toByteArray
    }

    /** IMA-ADPCM (WAV format tag 0x11, a.k.a. DVI ADPCM) decode tables —
      * the canonical 89-entry step-size table and the 3-bit-magnitude
      * index-adaptation table from the IMA ADPCM spec (also Microsoft's
      * WAVE_FORMAT_IMA_ADPCM documentation). Pure integer algorithm: the
      * decode recurrence is bit-deterministic, so the q332 exact-oracle
      * discipline extends to it unchanged (the oracle replays the same
      * recurrence as a recursive CTE over these tables). */
    private[graft] val ImaStepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
      34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
      157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
      598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
      1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
      5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
      15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private[graft] val ImaIndexTable: Array[Int] =
      Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** Encode a deterministic IMA-ADPCM WAV (format tag 0x11 — the most
      * common compressed WAV after G.711): mono, 8 kHz, one block whose
      * header carries a pinned predictor/step-index and whose nibble
      * stream IS the formula `(13·id + 7·i) mod 16` taken as ADPCM CODES.
      * ADPCM ENCODE is adaptive and lossy, so — exactly like
      * [[encodeCompandedTestWav]] — the fixture pins the code side and
      * the oracle replays the DECODE recurrence, which is a fixed
      * integer step-table algorithm. `nNibbles` must be even (codes pack
      * two per byte); decoded length = nNibbles + 1 (the block header's
      * predictor is sample 0, per the IMA WAV block layout). */
    def encodeImaAdpcmTestWav(mediaId: Long, nNibbles: Int): Array[Byte] = {
      require(nNibbles > 0 && nNibbles % 2 == 0,
        s"nibble count $nNibbles must be positive and even")
      val pred0 = (((7 * mediaId) % 4096) - 2048).toInt
      val idx0 = (mediaId % 89).toInt
      val blockAlign = 4 + nNibbles / 2
      val samplesPerBlock = 1 + nNibbles
      val dataSize = blockAlign // single block
      // RIFF(12) + fmt(8+20) + fact(8+4) + data(8+dataSize)
      val total = 12 + 28 + 12 + 8 + dataSize
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      fourcc("RIFF"); bb.putInt(total - 8); fourcc("WAVE")
      fourcc("fmt "); bb.putInt(20)
      bb.putShort(0x11).putShort(1)                  // tag, channels
      bb.putInt(AudioSampleRate.toInt)
      bb.putInt(AudioSampleRate.toInt * blockAlign / samplesPerBlock) // avg B/s
      bb.putShort(blockAlign.toShort).putShort(4)    // align, bits/sample
      bb.putShort(2).putShort(samplesPerBlock.toShort) // cbSize, spb
      fourcc("fact"); bb.putInt(4); bb.putInt(samplesPerBlock)
      fourcc("data"); bb.putInt(dataSize)
      bb.putShort(pred0.toShort).put(idx0.toByte).put(0.toByte)
      var i = 0
      while (i < nNibbles) { // two codes per byte, LOW nibble first
        val lo = ((13 * mediaId + 7 * i) % 16).toInt
        val hi = ((13 * mediaId + 7 * (i + 1)) % 16).toInt
        bb.put((lo | (hi << 4)).toByte)
        i += 2
      }
      bb.array()
    }

    /** True iff the payload is a RIFF/WAVE container whose fmt chunk
      * declares format tag 0x11 (IMA ADPCM) — the dispatch sniff for
      * [[decodeImaAdpcm]]. Pure byte inspection, never throws. */
    private def isImaAdpcmWav(payload: Array[Byte]): Boolean =
      findWavChunks(payload) match {
        case Some((fmtOff, _, _, _)) =>
          (le16(payload, fmtOff) & 0xffff) == 0x11
        case None => false
      }

    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

    /** Walk the RIFF chunk list of a WAVE payload and return
      * (fmtOffset, fmtSize, dataOffset, dataSize), or None if the
      * container is not RIFF/WAVE or lacks either chunk. Bounds-checked
      * throughout — malformed payloads return None (the error path). */
    private def findWavChunks(
        payload: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      if (payload.length < 12 ||
        payload(0) != 'R' || payload(1) != 'I' || payload(2) != 'F' ||
        payload(3) != 'F' || payload(8) != 'W' || payload(9) != 'A' ||
        payload(10) != 'V' || payload(11) != 'E') return None
      var off = 12
      var fmt = -1; var fmtSz = 0; var data = -1; var dataSz = 0
      while (off + 8 <= payload.length && (fmt < 0 || data < 0)) {
        val sz = le32(payload, off + 4)
        if (sz < 0 || off + 8 + sz > payload.length) return None
        val id = new String(payload, off, 4, "US-ASCII")
        if (id == "fmt ") { fmt = off + 8; fmtSz = sz }
        else if (id == "data") { data = off + 8; dataSz = sz }
        off += 8 + sz + (sz & 1) // RIFF chunks pad to even offsets
      }
      if (fmt >= 0 && fmtSz >= 16 && data >= 0) Some((fmt, fmtSz, data, dataSz))
      else None
    }

    /** Hand-written IMA-ADPCM (tag 0x11) WAV decode — the JDK ships NO
      * codec for it, so unlike the G.711 path this cannot route through
      * the conversion SPI. Mono only (stereo IMA interleaves 4-byte
      * channel words per 8 samples — error-path pinned like float and
      * MP3-in-WAV); multi-block data decodes block by block, each block
      * header re-seeding (predictor, step index) per the IMA WAV layout,
      * with a `fact` chunk truncating trailing padding samples. Pure
      * integer recurrence over [[ImaStepTable]]/[[ImaIndexTable]] —
      * bit-deterministic, exact-oracle-able. None on any malformation. */
    private[multimodal] def decodeImaAdpcm(
        payload: Array[Byte]): Option[(Int, Array[Int])] =
      findWavChunks(payload).flatMap { case (fmt, fmtSz, data, dataSz) =>
        val channels = le16(payload, fmt + 2)
        val rate = le32(payload, fmt + 4)
        val blockAlign = le16(payload, fmt + 12)
        val bits = le16(payload, fmt + 14)
        // fact chunk: total decoded samples (authoritative when present —
        // the last block's nibble tail may be padding)
        val factSamples: Int = {
          var off = 12; var found = -1
          while (off + 8 <= payload.length && found < 0) {
            val sz = le32(payload, off + 4)
            if (sz < 0 || off + 8 + sz > payload.length) return None
            if (payload(off) == 'f' && payload(off + 1) == 'a' &&
              payload(off + 2) == 'c' && payload(off + 3) == 't' && sz >= 4)
              found = le32(payload, off + 8)
            off += 8 + sz + (sz & 1)
          }
          found
        }
        if (channels != 1 || bits != 4 || blockAlign < 5 || rate <= 0) None
        else {
          val out = new java.util.ArrayList[Integer]()
          var blk = data
          val end = data + dataSz
          var ok = true
          // blk + 4: a legal FINAL block may carry only the 4-byte header
          // (its predictor IS the last sample, fact = k·spb + 1) — the old
          // `blk + 5` guard silently skipped it and returned one fewer
          // sample than the fact chunk declared (round-15 ADVICE #2;
          // fixtures never hit this, real multi-block tag-0x11 WAVs can)
          while (ok && blk + 4 <= end) {
            val bEnd = math.min(blk + blockAlign, end)
            var pred = le16(payload, blk).toShort.toInt // signed predictor
            var idx = payload(blk + 2) & 0xff
            if (idx > 88) ok = false
            else {
              out.add(pred)
              var p = blk + 4
              while (p < bEnd) {
                val b = payload(p) & 0xff
                var nib = 0
                while (nib < 2) {
                  val c = (b >> (4 * nib)) & 0xf
                  val step = ImaStepTable(idx)
                  var diff = step >> 3
                  if ((c & 4) != 0) diff += step
                  if ((c & 2) != 0) diff += step >> 1
                  if ((c & 1) != 0) diff += step >> 2
                  pred = if ((c & 8) != 0) pred - diff else pred + diff
                  if (pred > 32767) pred = 32767
                  else if (pred < -32768) pred = -32768
                  idx += ImaIndexTable(c & 7)
                  if (idx < 0) idx = 0 else if (idx > 88) idx = 88
                  out.add(pred)
                  nib += 1
                }
                p += 1
              }
            }
            blk += blockAlign
          }
          if (!ok) None
          else {
            val n =
              if (factSamples >= 0 && factSamples <= out.size()) factSamples
              else out.size()
            val arr = new Array[Int](n)
            var i = 0
            while (i < n) { arr(i) = out.get(i); i += 1 }
            Some((rate, arr))
          }
        }
      }

    /** Render a deterministic CHIRP waveform (per-doc quadratic phase —
      * unlike [[encodeTestWav]]'s linear ramp, whose |s| patterns are all
      * translates of one sawtooth and would make unrelated docs'
      * fingerprints collide) and encode it as a real WAV byte stream.
      * `click` = the injected near-duplicate edit (q333): the first 6
      * samples overwritten with a constant 2000 — a local edit that flips
      * only the touched fingerprint buckets' bits, like a dubbed-in
      * station ident. */
    def encodeChirpWav(mediaId: Long, nSamples: Int,
        click: Boolean = false): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s =
          if (click && i < 6) 2000
          else (((mediaId + 1) * (i + 7) * (i + 7) + 13 * mediaId) % 4096
            - 2048).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        AudioSampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val out = new java.io.ByteArrayOutputStream()
      writeWave(ais, out)
      out.toByteArray
    }

    /** Decode + 64-bucket energy fingerprint over the REAL decoded
      * samples (the [[aHash]] recipe on audio): bucket k = i % 64,
      * bucket value = Σ|s_i|, bit k = 1 iff the bucket's mean |amplitude|
      * exceeds the global mean via EXACT cross-multiplication
      * (sum_k · n_total > total · n_k — no doubles anywhere), packed as
      * four 16-bit bands. A local waveform edit flips only the touched
      * buckets' bits plus marginal global-mean crossings — the
      * locality-sensitive property LSH banding needs. None for
      * undecodable/non-16-bit-PCM payloads. */
    def audioFingerprint(mediaId: Long,
        payload: Array[Byte]): Option[AudioFingerprint] =
      decodeSamples(payload).map { case (_, samples) =>
        val ls = new Array[Long](64); val cn = new Array[Long](64)
        var ts = 0L; var n = 0L
        var i = 0
        while (i < samples.length) {
          val a = math.abs(samples(i).toLong)
          val k = i % 64
          ls(k) += a; cn(k) += 1; ts += a; n += 1
          i += 1
        }
        val bands = new Array[Long](4)
        var k = 0
        while (k < 64) {
          if (cn(k) > 0 && gtCross(ls(k), n, ts, cn(k)))
            bands(k / 16) |= 1L << (k % 16)
          k += 1
        }
        AudioFingerprint(mediaId, samples.length.toLong,
          bands(0), bands(1), bands(2), bands(3))
      }

    /** The shared WAV→PCM sample decode behind [[decodeAudio]] and
      * [[audioFingerprint]]: accepts 8-bit unsigned (the WAV spec's 8-bit
      * layout) and 16/24-bit signed PCM, mono or multi-channel, either
      * endianness, and returns the INTERLEAVED samples widened to Int
      * (8-bit recentred to signed by −128 — the standard convention, so
      * amplitude sums mean the same thing at every depth). µ-law and
      * a-law payloads (telephony WAV, format tags 7/6 — the most common
      * non-PCM WAV in the wild) route through the JDK's OWN companding
      * codecs (UlawCodec/AlawCodec via the cached conversion SPI) to
      * 16-bit linear first; G.711 decode is a fixed 256-entry table, so
      * the expansion is bit-deterministic and the q332 exact-oracle
      * discipline extends unchanged. None on unreadable payloads or
      * genuinely non-PCM-expressible encodings (float, MP3-in-WAV). */
    private[multimodal] def decodeSamples(
        payload: Array[Byte]): Option[(Int, Array[Int])] =
      try {
        // IMA-ADPCM (tag 0x11) dispatches BEFORE the JDK reader: the JDK
        // ships no codec for it (WaveFileReader rejects the tag), so the
        // hand-written integer decoder is the only path; anything 0x11
        // it cannot decode (stereo, malformed) is the error path, never
        // a fall-through to a reader that would also fail
        if (isImaAdpcmWav(payload)) return decodeImaAdpcm(payload)
        val aisOpt = openAudio(payload)
        if (aisOpt.isEmpty) return None
        val raw = aisOpt.get
        try {
          val rawEnc = raw.getFormat.getEncoding
          val companded =
            rawEnc == javax.sound.sampled.AudioFormat.Encoding.ULAW ||
              rawEnc == javax.sound.sampled.AudioFormat.Encoding.ALAW
          val ais =
            if (!companded) raw
            else {
              // expand through the JDK codec; closing `raw` below closes
              // the wrapper's source too. A JVM without the codec SPI
              // degrades to the error path, like openAudio's guard.
              val tgt = javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
              audioConverters.find(_.isConversionSupported(tgt,
                raw.getFormat)) match {
                case Some(p) => p.getAudioInputStream(tgt, raw)
                case None => return None
              }
            }
          val fmt = ais.getFormat
          val bits = fmt.getSampleSizeInBits
          val enc = fmt.getEncoding
          val okPcm =
            (bits == 8 &&
              enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) ||
            ((bits == 16 || bits == 24) &&
              enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          if (!okPcm || fmt.getChannels < 1) None
          else {
            val bytes = ais.readAllBytes()
            val be = fmt.isBigEndian
            val n = bytes.length / (bits / 8)
            val out = new Array[Int](n)
            var i = 0
            if (bits == 8) {
              while (i < n) { out(i) = (bytes(i) & 0xff) - 128; i += 1 }
            } else if (bits == 16) {
              while (i < n) {
                out(i) =
                  if (be) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
                  else (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
                i += 1
              }
            } else {
              while (i < n) {
                out(i) =
                  if (be)
                    (bytes(3 * i).toInt << 16) |
                      ((bytes(3 * i + 1) & 0xff) << 8) | (bytes(3 * i + 2) & 0xff)
                  else
                    (bytes(3 * i + 2).toInt << 16) |
                      ((bytes(3 * i + 1) & 0xff) << 8) | (bytes(3 * i) & 0xff)
                i += 1
              }
            }
            Some((fmt.getSampleRate.toInt, out))
          }
        } finally raw.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }

    /** Render the deterministic multi-frame test clip for `media_id` and
      * encode it as a real AVI byte stream: RIFF container, one `vids`
      * stream with handler `DIB ` (uncompressed 24-bit BI_RGB), `nFrames`
      * bottom-up BGR rasters with 4-byte-aligned rows in `00db` chunks —
      * the standard uncompressed-video AVI layout. Channel formulas extend
      * q326's per-pixel affine maps with a per-FRAME term (29f/31f/37f) so
      * every frame differs and a sampling bug (wrong frames, wrong count)
      * shifts the sums. The distributed fixture generator for
      * [[decodeVideo]]'s oracle-gated round trip. */
    def encodeTestAvi(mediaId: Long, w: Int, h: Int, nFrames: Int,
        bright: Boolean = false): Array[Byte] = {
      val rowBytes = ((w * 3 + 3) / 4) * 4 // DIB rows pad to 32-bit words
      val raster = rowBytes * h            // rowBytes % 4 == 0 ⇒ even, no chunk pad
      val total = 12 + 200 + 12 + nFrames * (8 + raster)
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      fourcc("RIFF"); bb.putInt(total - 8); fourcc("AVI ")
      fourcc("LIST"); bb.putInt(192); fourcc("hdrl")
      fourcc("avih"); bb.putInt(56)
      bb.putInt(100000).putInt(0).putInt(0).putInt(0) // µs/frame, maxbps, pad, flags
      bb.putInt(nFrames).putInt(0).putInt(1).putInt(raster) // total, initial, streams, sugbuf
      bb.putInt(w).putInt(h)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)      // dwReserved[4]
      fourcc("LIST"); bb.putInt(116); fourcc("strl")
      fourcc("strh"); bb.putInt(56)
      fourcc("vids"); fourcc("DIB ")
      bb.putInt(0).putInt(0).putInt(0)                // flags, prio|lang, initial
      bb.putInt(1).putInt(10)                         // scale=1, rate=10 fps
      bb.putInt(0).putInt(nFrames).putInt(raster).putInt(-1).putInt(0) // start, length, sugbuf, quality, sampleSize
      bb.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      fourcc("strf"); bb.putInt(40)                   // BITMAPINFOHEADER
      bb.putInt(40).putInt(w).putInt(h)
      bb.putShort(1).putShort(24)                     // planes, bpp
      bb.putInt(0).putInt(raster)                     // BI_RGB, biSizeImage
      bb.putInt(0).putInt(0).putInt(0).putInt(0)      // ppm x/y, clrUsed, clrImportant
      fourcc("LIST"); bb.putInt(4 + nFrames * (8 + raster)); fourcc("movi")
      var f = 0
      while (f < nFrames) {
        fourcc("00db"); bb.putInt(raster)
        var y = h - 1 // DIB rasters are bottom-up
        while (y >= 0) {
          var x = 0
          while (x < w) {
            // `bright` = the injected near-duplicate edit (q337): a 3-pixel
            // white patch on FRAME 0's top-left corner — frame 0 is always
            // sampled, so the edit is visible to the fingerprint yet flips
            // only the touched buckets' bits (q328's logo-overlay analog).
            if (bright && f == 0 && y == 0 && x < 3) {
              bb.put(255.toByte); bb.put(255.toByte); bb.put(255.toByte)
            } else {
              bb.put(((mediaId + 19 * x + 23 * y + 37 * f) % 256).toByte)    // B
              bb.put(((5 * mediaId + 3 * x + 17 * y + 31 * f) % 256).toByte) // G
              bb.put(((7 * mediaId + 11 * x + 13 * y + 29 * f) % 256).toByte) // R
            }
            x += 1
          }
          var p = w * 3
          while (p < rowBytes) { bb.put(0.toByte); p += 1 }
          y -= 1
        }
        f += 1
      }
      bb.array()
    }

    /** Render the per-frame raster for the MJPEG fixture with a per-frame
      * seed step so every frame differs and a sampling bug (wrong frames,
      * wrong count) shifts the error sums out of bound. Frame 0 carries
      * the `bright` near-dup patch — always sampled, as in the DIB
      * fixture. Two regimes, exactly as for stills (q339 vs q340):
      * `smooth` is JPEG's natural content where the recon bound is tight
      * (q341); `smooth = false` is the iid-noise pattern whose
      * high-variance bucket means keep fingerprint bit margins wide under
      * codec noise AND decorrelate distinct ids' hashes to the iid
      * band-collision floor (q344). */
    private def mjpegFrameRaster(sid: Long, w: Int, h: Int, f: Int,
        bright: Boolean, smooth: Boolean = true): java.awt.image.BufferedImage =
      if (smooth) renderSmoothPattern(sid + 131L * f, w, h, bright && f == 0)
      else renderNoisePattern(sid + 131L * f, w, h, bright && f == 0)

    /** Render a deterministic multi-frame clip and encode it as a real
      * MJPEG-AVI byte stream: the [[encodeTestAvi]] RIFF layout, but the
      * stream handler/compression are `MJPG` and every `00dc` chunk is a
      * standalone JPEG (ImageIO, pinned [[JpegQuality]]) — the dominant
      * compressed-AVI layout in real corpora, and the reason the demux
      * carries frame sampling: skipped frames' JPEGs are never decoded. */
    def encodeTestMjpegAvi(mediaId: Long, w: Int, h: Int, nFrames: Int,
        bright: Boolean = false, smooth: Boolean = true): Array[Byte] = {
      val sid = scrambleId(mediaId)
      // ONE writer for the whole clip: ImageWriter instances are reusable
      // across images via setOutput (registry lookup + writer construction
      // per frame was q341's visible overhead at 6 frames/clip); they are
      // not thread-safe, but this one never escapes the call
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(JpegQuality)
      val jpegs =
        try Array.tabulate(nFrames) { f =>
          val bi = mjpegFrameRaster(sid, w, h, f, bright, smooth)
          val out = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
          try {
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
            ios.flush()
          } finally ios.close()
          out.toByteArray
        } finally writer.dispose()
      // RIFF chunks pad odd bodies to even offsets
      val moviBody = jpegs.map(j => 8 + j.length + (j.length & 1)).sum
      val maxFrame = jpegs.map(_.length).max
      val total = 12 + 200 + 12 + moviBody
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      fourcc("RIFF"); bb.putInt(total - 8); fourcc("AVI ")
      fourcc("LIST"); bb.putInt(192); fourcc("hdrl")
      fourcc("avih"); bb.putInt(56)
      bb.putInt(100000).putInt(0).putInt(0).putInt(0) // µs/frame, maxbps, pad, flags
      bb.putInt(nFrames).putInt(0).putInt(1).putInt(maxFrame) // total, initial, streams, sugbuf
      bb.putInt(w).putInt(h)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)      // dwReserved[4]
      fourcc("LIST"); bb.putInt(116); fourcc("strl")
      fourcc("strh"); bb.putInt(56)
      fourcc("vids"); fourcc("MJPG")
      bb.putInt(0).putInt(0).putInt(0)                // flags, prio|lang, initial
      bb.putInt(1).putInt(10)                         // scale=1, rate=10 fps
      bb.putInt(0).putInt(nFrames).putInt(maxFrame).putInt(-1).putInt(0) // start, length, sugbuf, quality, sampleSize
      bb.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      fourcc("strf"); bb.putInt(40)                   // BITMAPINFOHEADER
      bb.putInt(40).putInt(w).putInt(h)
      bb.putShort(1).putShort(24)                     // planes, bpp
      bb.putInt(0x47504A4D).putInt(0)                 // biCompression='MJPG', biSizeImage (0 ok for compressed)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)      // ppm x/y, clrUsed, clrImportant
      fourcc("LIST"); bb.putInt(4 + moviBody); fourcc("movi")
      var f = 0
      while (f < nFrames) {
        fourcc("00dc"); bb.putInt(jpegs(f).length)
        bb.put(jpegs(f))
        if ((jpegs(f).length & 1) == 1) bb.put(0.toByte)
        f += 1
      }
      bb.array()
    }

    /** Per-channel reconstruction error of an MJPEG-AVI payload against
      * the formula rasters its sampled frames were encoded from: demux +
      * JPEG-decode via [[visitSampledFrames]] (the same path real
      * consumers run), then sum |decoded − formula| per channel over the
      * sampled frames. Exact container facts (dims, frame counts) plus
      * pinned mean-error ceilings form the bound oracle — lossy frames
      * are codec-version-specific. None for malformed payloads. */
    def mjpegReconStats(mediaId: Long, payload: Array[Byte],
        every: Int = 2, bright: Boolean = false): Option[VideoReconStats] = {
      val sid = scrambleId(mediaId)
      var er = 0L; var eg = 0L; var eb = 0L; var np = 0L
      visitSampledFrames(payload, every) { (f, bi) =>
        val w = bi.getWidth; val h = bi.getHeight
        val ref = mjpegFrameRaster(sid, w, h, f, bright)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = bi.getRGB(x, y); val q = ref.getRGB(x, y)
            er += math.abs(((p >> 16) & 0xff) - ((q >> 16) & 0xff))
            eg += math.abs(((p >> 8) & 0xff) - ((q >> 8) & 0xff))
            eb += math.abs((p & 0xff) - (q & 0xff))
            np += 1
            x += 1
          }
          y += 1
        }
      }.map { case (w, h, nFrames, nSampled) =>
        VideoReconStats(mediaId, w, h, nFrames, nSampled, er, eg, eb, np)
      }
    }

    /** REAL video decode: demux the RIFF/AVI container (chunk walk with
      * even-byte alignment; `hdrl`→`strl` for the `vids` stream header +
      * BITMAPINFOHEADER, `movi` for the `00db`/`00dc` frame chunks), then
      * decode every `every`-th frame — frame SAMPLING at the demux layer,
      * skipped frames never rasterized — by wrapping its DIB raster in a
      * 14-byte BITMAPFILEHEADER and handing it to the JDK's ImageIO BMP
      * codec. Exact integer channel sums over the sampled frames out.
      * Returns None for anything malformed — no RIFF magic, no video
      * stream, compressed or non-24-bit frames, truncated rasters,
      * top-down (negative-height) DIBs — the error-record path, never an
      * exception. */
    def decodeVideo(mediaId: Long, payload: Array[Byte],
        every: Int = 2): Option[VideoStats] = {
      var sr = 0L; var sg = 0L; var sb = 0L
      visitSampledFrames(payload, every) { (_, bi) =>
        val w = bi.getWidth; val h = bi.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
      }.map { case (w, h, nFrames, nSampled) =>
        VideoStats(mediaId, w, h, nFrames, nSampled, sr, sg, sb)
      }
    }

    /** Decode + 64-bucket average-hash over the SAMPLED frames' luma
      * stream (the [[aHash]] recipe on video): bucket k = global sampled-
      * pixel index % 64 (frames in sample order), luma = (r+g+b)/3 integer
      * division, bit k = 1 iff bucket mean > global mean via EXACT
      * cross-multiplication — no doubles anywhere — packed as four 16-bit
      * bands. A local edit on one sampled frame flips only the touched
      * buckets' bits plus marginal global-mean crossings: the
      * locality-sensitive property LSH banding needs. None for
      * undecodable payloads. */
    def videoFingerprint(mediaId: Long, payload: Array[Byte],
        every: Int = 2): Option[VideoFingerprint] =
      videoFingerprintCore(mediaId, payload, every)((r, g, b) =>
        (r + g + b) / 3)

    /** [[videoFingerprint]] over BT.601 luma — the LOSSY-codec twin, for
      * MJPEG-AVI clips: exactly as for stills ([[jpegAHash]]), JPEG's
      * per-MCU chroma subsampling leaks a local edit's chroma shift into
      * every (r+g+b)/3 bucket of the touched frame, while BT.601 inverts
      * the chroma terms and recovers the encoded Y plane, confining the
      * edit to its own luma blocks — the locality LSH banding needs. */
    def mjpegFingerprint(mediaId: Long, payload: Array[Byte],
        every: Int = 2): Option[VideoFingerprint] =
      videoFingerprintCore(mediaId, payload, every)((r, g, b) =>
        (299 * r + 587 * g + 114 * b + 500) / 1000)

    private def videoFingerprintCore(mediaId: Long, payload: Array[Byte],
        every: Int)(luma: (Int, Int, Int) => Int): Option[VideoFingerprint] = {
      val ls = new Array[Long](64); val cn = new Array[Long](64)
      var ts = 0L; var n = 0L
      var gi = 0L // global pixel index across sampled frames, sample order
      visitSampledFrames(payload, every) { (_, bi) =>
        val w = bi.getWidth; val h = bi.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            val l = luma((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
            val k = (gi % 64).toInt
            ls(k) += l; cn(k) += 1; ts += l; n += 1
            gi += 1
            x += 1
          }
          y += 1
        }
      }.map { case (w, h, nFrames, _) =>
        val bands = new Array[Long](4)
        var k = 0
        while (k < 64) {
          if (cn(k) > 0 && gtCross(ls(k), n, ts, cn(k)))
            bands(k / 16) |= 1L << (k % 16)
          k += 1
        }
        VideoFingerprint(mediaId, w, h, nFrames,
          bands(0), bands(1), bands(2), bands(3))
      }
    }

    /** The shared AVI demux + sampled-frame BMP decode behind
      * [[decodeVideo]] and [[videoFingerprint]]: walks the RIFF tree,
      * validates the `vids`/BI_RGB/24-bit stream, decodes every
      * `every`-th frame via ImageIO and hands it to `visit` in frame
      * order. Returns (w, h, nFrames, nSampled), or None for anything
      * malformed (side effects `visit` already made are discarded by the
      * callers' Option.map). */
    private def visitSampledFrames(payload: Array[Byte], every: Int)(
        visit: (Int, java.awt.image.BufferedImage) => Unit): Option[(Int, Int, Int, Int)] = {
      // caller-bug guard OUTSIDE the NonFatal catch: every <= 0 would hit
      // `f % every` as an ArithmeticException inside it and masquerade as
      // "universally undecodable payloads" — fail loudly instead
      require(every >= 1, s"frame-sampling stride must be >= 1, got $every")
      try {
        if (payload.length < 12) return None
        def fcc(off: Int): String =
          new String(payload, off, 4, "US-ASCII")
        def u32(off: Int): Int =
          (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
            ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)
        def u16(off: Int): Int =
          (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
        if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
        val riffEnd = math.min(payload.length.toLong, 8L + u32(4)).toInt
        var strfOff = -1
        var vidStream = -1 // index of the FIRST vids stream, in strl order
        var streamCount = 0
        // (streamNo, bodyOff) for every ##db/##dc movi chunk; filtered to
        // the video stream's number after the walk — a multi-stream AVI
        // (audio + video) must pair the video strf with the video frames,
        // not whichever strf/chunks happened to come last
        val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        def walk(off0: Int, end: Int, depth: Int, inMovi: Boolean): Unit = {
          // depth cap: real AVIs nest ≤3 (RIFF→movi→rec); crafted
          // LIST-in-LIST payloads must exhaust the cap, not the stack —
          // StackOverflowError is not NonFatal and would fail the task
          if (depth > 8) return
          var off = off0
          var ok = true
          while (ok && off + 8 <= end) {
            val id = fcc(off)
            val len = u32(off + 4)
            val body = off + 8
            if (len < 0 || body + len > end) ok = false
            else {
              if (id == "LIST" && len >= 4) {
                val lt = fcc(body)
                if (lt == "strl") {
                  // one stream-header block: bind THIS strl's strh type to
                  // THIS strl's strf before moving on
                  val idx = streamCount; streamCount += 1
                  var so = body + 4
                  var sOk = true
                  var isVids = false
                  var sStrf = -1
                  while (sOk && so + 8 <= body + len) {
                    val sid = fcc(so); val slen = u32(so + 4); val sbody = so + 8
                    if (slen < 0 || sbody + slen > body + len) sOk = false
                    else {
                      if (sid == "strh" && slen >= 4 && fcc(sbody) == "vids")
                        isVids = true
                      else if (sid == "strf" && slen >= 40) sStrf = sbody
                      so = sbody + slen + (slen & 1)
                    }
                  }
                  if (isVids && sStrf >= 0 && vidStream < 0) {
                    vidStream = idx; strfOff = sStrf
                  }
                } else walk(body + 4, body + len, depth + 1,
                  inMovi || lt == "movi")
              } else if (inMovi && id(0).isDigit && id(1).isDigit &&
                  (id.endsWith("db") || id.endsWith("dc"))) {
                frames += (((id(0) - '0') * 10 + (id(1) - '0'), body))
              }
              off = body + len + (len & 1)
            }
          }
        }
        walk(12, riffEnd, depth = 0, inMovi = false)
        if (vidStream < 0 || strfOff < 0) return None
        val vframes = frames.collect { case (s, o) if s == vidStream => o }
        if (vframes.isEmpty) return None
        val w = u32(strfOff + 4)
        val h = u32(strfOff + 8) // negative = top-down; reject below
        val bpp = u16(strfOff + 14)
        val compression = u32(strfOff + 16)
        // two supported frame codecs: BI_RGB (0, uncompressed 24-bit DIB)
        // and MJPG (each frame chunk is a standalone JPEG — the dominant
        // compressed-AVI layout in real corpora); anything else is the
        // error-record path
        val isMjpg = compression == 0x47504A4D // 'MJPG' as a LE u32
        if (w <= 0 || h <= 0 || (!isMjpg && (bpp != 24 || compression != 0)))
          return None
        val rowBytes = ((w * 3 + 3) / 4) * 4
        val raster = rowBytes * h
        var sampled = 0
        var f = 0
        while (f < vframes.length) {
          if (f % every == 0) {
            val foff = vframes(f)
            val flen = u32(foff - 4) // chunk length re-read
            val bi =
              if (isMjpg) {
                // the frame chunk IS a JPEG byte stream — hand it to the
                // same ImageIO JPEG codec the still-image path uses
                readInMemory(java.util.Arrays.copyOfRange(
                  payload, foff, foff + flen))
              } else {
                // a truncated DIB frame is a decode error
                if (flen != raster) return None
                val bmp = new Array[Byte](54 + raster)
                bmp(0) = 'B'.toByte; bmp(1) = 'M'.toByte
                var v = 54 + raster
                var i = 2
                while (i < 6) { bmp(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
                bmp(10) = 54.toByte // pixel-data offset; bytes 6-9 reserved = 0
                System.arraycopy(payload, strfOff, bmp, 14, 40)
                System.arraycopy(payload, foff, bmp, 54, raster)
                readInMemory(bmp)
              }
            if (bi == null || bi.getWidth != w || bi.getHeight != h) return None
            visit(f, bi)
            sampled += 1
          }
          f += 1
        }
        Some((w, h, vframes.length, sampled))
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    }

    /** Decode + 64-bucket average-hash over the REAL luma plane: bucket
      * k = (y·w + x) % 64, luma = (r+g+b)/3 integer division, bit k = 1
      * iff bucket mean > global mean via EXACT cross-multiplication
      * (sum_k · n_total > total · n_k — no doubles anywhere), packed as
      * four 16-bit bands. None for undecodable payloads. */
    def aHash(mediaId: Long, payload: Array[Byte]): Option[ImageAHash] =
      aHashCore(mediaId, payload)((r, g, b) => (r + g + b) / 3)

    /** [[aHash]] over BT.601 luma (integer ⌊(299r+587g+114b+500)/1000⌋)
      * instead of the flat (r+g+b)/3 average. For LOSSY JPEG near-dup
      * this is load-bearing, not cosmetic: JPEG stores subsampled chroma
      * per 16×16 MCU, so a 3-pixel edit shifts the decoded R/G/B of the
      * WHOLE MCU through its one chroma block — and r+g+b = 3Y +
      * 1.43Cb' + 0.69Cr' leaks that global chroma shift into every
      * bucket (measured Hamming up to 28/64 for the q340 patch edit).
      * BT.601 luma inverts the chroma terms, recovering the encoded Y
      * plane (± rounding), so the edit stays confined to its own 8×8
      * luma block — the locality LSH banding needs. */
    def jpegAHash(mediaId: Long, payload: Array[Byte]): Option[ImageAHash] =
      aHashCore(mediaId, payload)((r, g, b) =>
        (299 * r + 587 * g + 114 * b + 500) / 1000)

    private def aHashCore(mediaId: Long, payload: Array[Byte])(
        luma: (Int, Int, Int) => Int): Option[ImageAHash] = {
      val img =
        try Option(readInMemory(payload))
        catch { case _: java.io.IOException => None }
      img.map { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        val ls = new Array[Long](64); val cn = new Array[Long](64)
        var ts = 0L; var n = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            val l = luma((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
            val k = ((y.toLong * w + x) % 64).toInt
            ls(k) += l; cn(k) += 1; ts += l; n += 1
            x += 1
          }
          y += 1
        }
        packAHash(mediaId, w, h, ls, cn, ts, n)
      }
    }

    private def packAHash(mediaId: Long, w: Int, h: Int, ls: Array[Long],
        cn: Array[Long], ts: Long, n: Long): ImageAHash = {
      val bands = new Array[Long](4)
      var k = 0
      while (k < 64) {
        if (cn(k) > 0 && gtCross(ls(k), n, ts, cn(k)))
          bands(k / 16) |= 1L << (k % 16)
        k += 1
      }
      ImageAHash(mediaId, w, h, bands(0), bands(1), bands(2), bands(3))
    }

    /** Decode ONCE, then derive channel sums AND the flat-luma average
      * hash from the same raster in a single pixel walk — the streaming
      * pipeline's per-record unit (round-13 verdict #2: composing
      * [[decodeImage]] with [[aHash]] parsed every payload twice, doubling
      * the dominant cost while the docs claimed one pass). Semantically
      * identical to the pair — both stats and hash read the identical
      * decoded pixels — and q342's exact oracle pins that. None for
      * undecodable payloads (the error-record path). */
    def decodeImageWithHash(mediaId: Long,
        payload: Array[Byte]): Option[(ImageStats, ImageAHash)] = {
      val img =
        try Option(readInMemory(payload))
        catch { case _: java.io.IOException => None }
      img.map { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        val ls = new Array[Long](64); val cn = new Array[Long](64)
        var ts = 0L; var n = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            sr += r; sg += g; sb += b
            val l = (r + g + b) / 3
            val k = ((y.toLong * w + x) % 64).toInt
            ls(k) += l; cn(k) += 1; ts += l; n += 1
            x += 1
          }
          y += 1
        }
        (ImageStats(mediaId, w, h, payload.length, sr, sg, sb),
          packAHash(mediaId, w, h, ls, cn, ts, n))
      }
    }
  }

  /** Wrap a text corpus as media records (payload = UTF-8 bytes) — the test
    * stand-in for real media files; at scale this is `spark.read.format
    * ("binaryFile")` or payload columns in parquet. */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      // deterministic kind assignment so all three branches exercise
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Distributed PNG-fixture corpus: one real encoded PNG payload per doc
    * id, dimensions a bounded function of the id (8–16 × 8–14 px) so the
    * whole generate→encode cost is per-row-constant. Encoding happens on
    * EXECUTORS inside mapPartitions — fixture construction is distributed
    * exactly like the decode that follows. */
  def syntheticImages(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        MediaRecord(id, "image", Decoder.encodeTestPng(id, w, h))
      }
    }
  }

  /** Distributed GIF-fixture corpus (q347): indexed-color payloads on the
    * q326 dimension schedule — real web corpora carry GIFs beside
    * PNG/JPEG, and LZW+palette losslessness keeps the oracle EXACT.
    * Encoding happens on EXECUTORS inside mapPartitions. */
  def syntheticGifs(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        MediaRecord(id, "image", Decoder.encodeTestGif(id, w, h))
      }
    }
  }

  /** Distributed grayscale-noise GIF corpus for the near-dup fixture
    * (q348) — [[syntheticGifs]]' q328-pattern twin on the q328 dimension
    * schedule, with the usual idOffset/bright injected-copy knobs. */
  def syntheticNoiseGifs(docs: DataFrame, idOffset: Long = 0L,
      bright: Boolean = false): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        requireIdHeadroom(id, idOffset)
        val w = (32 + id % 17).toInt
        val h = (32 + id % 13).toInt
        MediaRecord(id + idOffset, "image",
          Decoder.encodeNoiseGif(id, w, h, bright))
      }
    }
  }

  /** Distributed WAV-fixture corpus: one real encoded WAV payload per doc
    * id, length a bounded function of the id (64–96 samples) so the whole
    * render→encode cost is per-row-constant. The id schedule cycles the
    * layouts real WAV corpora actually ship — mono 16-bit, STEREO 16-bit,
    * mono 24-bit, stereo 8-bit, the two G.711 telephony laws (µ-law and
    * a-law, the most common non-PCM WAV in the wild; round-13 verdict
    * #3), and IMA-ADPCM (tag 0x11, the most common COMPRESSED WAV after
    * G.711; round-14 verdict #2) — the PCM rows share one interleaved
    * sample formula, the companded/ADPCM rows pin the same formula
    * stream as CODE bytes/nibbles, so the exact oracle stays a sum over
    * deterministic integer series with a per-layout value map (stereo
    * rounds the count down to whole frames; ADPCM replays the step-table
    * recurrence). Encoding happens on EXECUTORS inside mapPartitions,
    * exactly like [[syntheticImages]]. */
  def syntheticAudio(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        val n0 = (64 + id % 33).toInt
        (id % 7) match {
          case 4 =>
            MediaRecord(id, "audio",
              Decoder.encodeCompandedTestWav(id, n0, alaw = false))
          case 5 =>
            MediaRecord(id, "audio",
              Decoder.encodeCompandedTestWav(id, n0, alaw = true))
          case 6 => // IMA-ADPCM: even nibble count, decoded n = nibbles+1
            MediaRecord(id, "audio",
              Decoder.encodeImaAdpcmTestWav(id, n0 - (n0 % 2)))
          case m =>
            val (channels, bits) = m match {
              case 0 => (1, 16)
              case 1 => (2, 16)
              case 2 => (1, 24)
              case _ => (2, 8)
            }
            val n = n0 - (n0 % channels)
            MediaRecord(id, "audio",
              Decoder.encodeTestWav(id, n, channels, bits))
        }
      }
    }
  }

  /** Injected-twin corpora shift media_id by `idOffset`; a base corpus
    * whose doc_ids reach the offset would silently COLLIDE dup ids with
    * base ids and corrupt every recall/fp measurement built on the
    * `id + offset` pairing. The queries use the high bit 2^40 (round 15:
    * the earlier 500000 collided at the sf100 probe's 5M doc_ids — this
    * guard caught it), so the guard fires only on a >trillion-doc
    * corpus. Per-row, executor-side, constant cost: fails loudly instead
    * of measuring garbage. */
  private def requireIdHeadroom(id: Long, idOffset: Long): Unit =
    require(idOffset == 0L || id < idOffset,
      s"doc_id $id >= idOffset $idOffset — injected-dup media_ids would " +
        "collide with base media_ids; raise the offset above max(doc_id)")

  /** Distributed AVI-fixture corpus: one real encoded AVI payload per doc
    * id — 4–8 uncompressed DIB frames of the q326 dimension schedule
    * (8–16 × 8–14 px) — so the whole generate→encode cost is
    * per-row-constant. Encoding happens on EXECUTORS inside mapPartitions,
    * exactly like [[syntheticImages]]/[[syntheticAudio]]. */
  def syntheticVideos(docs: DataFrame, idOffset: Long = 0L,
      bright: Boolean = false): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    // idOffset/bright build the perturbed-twin corpus (q337) from the SAME
    // dimension schedule — the schedule lives only here, so base clips and
    // their injected near-copies can never silently diverge in size
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        requireIdHeadroom(id, idOffset)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val nf = (4 + id % 5).toInt
        MediaRecord(id + idOffset, "video",
          Decoder.encodeTestAvi(id, w, h, nf, bright))
      }
    }
  }

  /** Distributed JPEG-fixture corpus (the LOSSY sibling of
    * [[syntheticImages]]): one real encoded JPEG payload per doc id at
    * the pinned quality, dimensions a bounded function of the id
    * (32-48 × 32-44 px — big enough that the 64 aHash bucket means
    * average codec noise down). `smooth` picks the q339 recon-bound
    * pattern; `smooth = false` the iid-noise near-dup pattern (q340).
    * Encoding happens on EXECUTORS inside mapPartitions. */
  def syntheticJpegs(docs: DataFrame, idOffset: Long = 0L,
      bright: Boolean = false, smooth: Boolean = true): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        requireIdHeadroom(id, idOffset)
        val w = (32 + id % 17).toInt
        val h = (32 + id % 13).toInt
        MediaRecord(id + idOffset, "image",
          Decoder.encodeTestJpeg(id, w, h, bright, smooth))
      }
    }
  }

  /** The LOSSY image-decode audit stage: ImageIO JPEG decode inside
    * per-partition batches, emitting exact dims + per-channel
    * reconstruction-error sums against the formula raster (the q339
    * bound-oracle unit). Undecodable payloads drop out. `idOffset` must
    * equal the one the fixture was built with: [[syntheticJpegs]] encodes
    * from the PRE-offset id, so the expected dims (and the recon
    * reference raster, via scrambleId inside jpegReconStats) derive from
    * `media_id - idOffset` — with a mismatched offset every row would
    * silently drop as "dimension drift" (round-13 ADVICE). */
  def jpegReconAudits(media: Dataset[MediaRecord], smooth: Boolean = true,
      idOffset: Long = 0L): Dataset[JpegReconStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch => batch.flatMap { r =>
      val fid = r.media_id - idOffset // the fixture id the payload encodes
      val w = (32 + fid % 17).toInt
      val h = (32 + fid % 13).toInt
      Decoder.jpegReconStats(fid, r.payload, w, h, smooth = smooth)
        .map(_.copy(media_id = r.media_id))
    })
  }

  /** Decode + BT.601-luma perceptual-hash stage for LOSSY payloads —
    * [[imageAHashes]]' JPEG twin (see [[Decoder.jpegAHash]] for why flat
    * (r+g+b)/3 luma breaks under chroma subsampling). */
  def jpegAHashes(media: Dataset[MediaRecord]): Dataset[ImageAHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.jpegAHash(r.media_id, r.payload)))
  }

  /** Distributed MJPEG-AVI fixture corpus: 4-8 JPEG frames per clip on
    * the q339 dimension schedule — the compressed-container sibling of
    * [[syntheticVideos]]. Encoding happens on EXECUTORS. */
  def syntheticMjpegVideos(docs: DataFrame, idOffset: Long = 0L,
      bright: Boolean = false, smooth: Boolean = true): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    fixtureIds(docs).mapPartitions { it =>
      it.map { id =>
        requireIdHeadroom(id, idOffset)
        val w = (32 + id % 17).toInt
        val h = (32 + id % 13).toInt
        val nf = (4 + id % 5).toInt
        MediaRecord(id + idOffset, "video",
          Decoder.encodeTestMjpegAvi(id, w, h, nf, bright, smooth))
      }
    }
  }

  /** Decode + BT.601-luma perceptual-fingerprint stage for LOSSY clips —
    * [[videoFingerprints]]' MJPEG twin (see [[Decoder.mjpegFingerprint]]
    * for why flat (r+g+b)/3 luma breaks under chroma subsampling). */
  def mjpegFingerprints(media: Dataset[MediaRecord],
      every: Int = 2): Dataset[VideoFingerprint] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.mjpegFingerprint(r.media_id, r.payload, every)))
  }

  /** The LOSSY video-decode audit stage: AVI demux + per-sampled-frame
    * JPEG decode inside per-partition batches, emitting exact container
    * facts + reconstruction-error sums (the q341 bound-oracle unit).
    * `idOffset` must equal the fixture's, as in [[jpegReconAudits]] —
    * the recon reference rasters derive from the PRE-offset id. */
  def mjpegReconAudits(media: Dataset[MediaRecord], every: Int = 2,
      idOffset: Long = 0L): Dataset[VideoReconStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch => batch.flatMap { r =>
      Decoder.mjpegReconStats(r.media_id - idOffset, r.payload, every)
        .map(_.copy(media_id = r.media_id))
    })
  }

  /** The REAL video-decode stage: RIFF/AVI demux + per-sampled-frame
    * ImageIO BMP decode inside per-partition batches; undecodable payloads
    * drop out (flatMap over the Option), mirroring [[decodeImages]]. */
  def decodeVideos(media: Dataset[MediaRecord],
      every: Int = 2): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.decodeVideo(r.media_id, r.payload, every)))
  }

  /** Decode + luma-fingerprint stage: the AVI demux + BMP codec inside
    * per-partition batches, emitting the 4-band fingerprint rows the video
    * near-dup LSH join consumes — [[imageAHashes]]' video twin. */
  def videoFingerprints(media: Dataset[MediaRecord],
      every: Int = 2): Dataset[VideoFingerprint] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.videoFingerprint(r.media_id, r.payload, every)))
  }

  /** The REAL audio-decode stage: the JDK WAV/PCM reader inside
    * per-partition batches; undecodable payloads drop out (flatMap over
    * the Option), mirroring [[decodeImages]]. */
  def decodeAudios(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.decodeAudio(r.media_id, r.payload)))
  }

  /** The REAL image-decode stage: ImageIO inside per-partition batches.
    * Undecodable payloads drop out (flatMap over the Option) — callers
    * that need the error records diff media_ids against the input. */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // ImageIO plugin scanning happens once per JVM; the per-partition
      // scope here is where a heavier codec would put its context.
      batch.flatMap(r => Decoder.decodeImage(r.media_id, r.payload))
    }
  }

  /** Decode + perceptual-hash stage: ImageIO inside per-partition batches,
    * emitting the 4-band aHash rows the LSH near-dup join consumes. */
  def imageAHashes(media: Dataset[MediaRecord]): Dataset[ImageAHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.aHash(r.media_id, r.payload)))
  }

  /** Decode + energy-fingerprint stage: the JDK WAV reader inside
    * per-partition batches, emitting the 4-band fingerprint rows the
    * audio near-dup LSH join consumes — [[imageAHashes]]' audio twin. */
  def audioFingerprints(media: Dataset[MediaRecord]): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    media.mapPartitions(batch =>
      batch.flatMap(r => Decoder.audioFingerprint(r.media_id, r.payload)))
  }

  /** The decode/feature-extract stage: per-partition batches, codec state
    * initialized once per partition (the mapInPandas batch shape). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // Per-partition init: a real impl opens its codec/JNI context here,
      // once for the whole batch — never per record.
      val crc = new java.util.zip.CRC32()
      batch.map { r =>
        crc.reset()
        crc.update(r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length, crc.getValue,
          Decoder.decodeStub(r.payload))
      }
    }
  }

  /** Frame-sampling shape: cut the payload into fixed-size "frames" and keep
    * every k-th — pure built-ins (no decode), showing array-of-binary
    * handling on the opaque column. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, every: Int = 4): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      filter(
        transform(
          sequence(lit(0L), ((length(col("payload")) - 1) / frameBytes).cast("long")),
          i => struct(i.as("frame_no"),
            col("payload").substr(i * frameBytes + 1, lit(frameBytes))
              .as("bytes"))),
        f => f.getField("frame_no") % every === 0).as("frames"))
      .withColumn("n_frames_kept", size(col("frames")))
}
