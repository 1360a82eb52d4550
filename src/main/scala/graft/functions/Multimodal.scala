package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in batched partition passes —
  * the Scala analog of a `mapInPandas` decode stage.
  *
  * IMAGES decode for real: [[ImageCodec]] wraps `javax.imageio`
  * (PNG/JPEG/GIF/BMP — the JDK's standard readers), sniffing the
  * payload's magic bytes so image blobs get true dimensions and pixel
  * statistics while non-image payloads (audio/video stand-ins, for
  * which this container has no codec libraries) fall back to the
  * deterministic [[StubDecoder]]. The plumbing — schema, binary
  * batching, partition-local fan-out — is identical on both paths, so
  * an audio/video codec drops in exactly the way the image one did.
  */
object Multimodal {

  /** One media blob: the universal multimodal row shape. */
  final case class MediaBlob(doc_id: Long, media_type: String, data: Array[Byte])

  /** Decoded metadata + features. `width`/`height` are fake (stub codec);
    * `n_bytes` and `byte_hist` are real functions of the bytes.
    */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      byte_hist: Array[Double])

  /** STUB decoder for NON-IMAGE payloads — audio/video have no codec
    * libraries in this container, so they get deterministic fake
    * dimensions and a real byte histogram. Image payloads never reach
    * this: [[decodeFeatures]] routes them through [[ImageCodec]].
    */
  object StubDecoder {
    val HistBins = 16
    def decode(blob: MediaBlob): MediaFeatures = {
      val bytes = blob.data
      val hist = new Array[Double](HistBins)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xFF) / (256 / HistBins)) += 1.0
        i += 1
      }
      val total = math.max(bytes.length, 1).toDouble
      var j = 0
      while (j < HistBins) { hist(j) /= total; j += 1 }
      MediaFeatures(
        doc_id = blob.doc_id,
        media_type = blob.media_type,
        n_bytes = bytes.length.toLong,
        // fake dimensions, deterministic in the payload size
        width = 16 + (bytes.length % 64),
        height = 16 + ((bytes.length / 64) % 64),
        byte_hist = hist)
    }
  }

  /** Real image codec over `javax.imageio` — pure JDK, headless-safe
    * (no display, no native libs). PNG encode/decode is LOSSLESS, so a
    * gray PNG round-trips its exact pixel bytes and every pixel
    * statistic is bit-deterministic cross-run — which is what lets the
    * image pipeline be ORACLE-GATED: the DuckDB side recomputes the
    * same statistics analytically from the generator formula.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // no temp-file stream cache on executors — decode stays in-memory
    ImageIO.setUseCache(false)

    /** Magic-byte sniff for formats the JDK reader handles. Cheap guard
      * so non-image payloads never pay a failed decode attempt.
      */
    def looksLikeImage(b: Array[Byte]): Boolean =
      b.length >= 4 && (
        (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
        (b(0) == 'B' && b(1) == 'M'))

    /** Decode to a BufferedImage; None for corrupt/unsupported bytes
      * (ImageIO returns null rather than throwing for unknown formats).
      */
    def decode(bytes: Array[Byte]): Option[BufferedImage] =
      if (!looksLikeImage(bytes)) None
      else try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException => None }

    /** Integer ITU-R 601 luma in [0, 255]; exact identity on gray
      * pixels (r=g=b=v → (299+587+114)·v / 1000 = v).
      */
    def luma(rgb: Int): Int = {
      val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
      (299 * r + 587 * g + 114 * b) / 1000
    }

    /** Gray level of pixel (x, y). Single-band (grayscale) images read
      * the RASTER directly — `getRGB` on TYPE_BYTE_GRAY applies a
      * linear-gray→sRGB colorspace conversion that silently REMAPS the
      * stored sample (the classic AWT trap), which would break the
      * lossless round-trip the oracle gate depends on. Multi-band
      * images go through sRGB luma.
      */
    def grayAt(img: BufferedImage, x: Int, y: Int): Int =
      if (img.getRaster.getNumBands == 1) img.getRaster.getSample(x, y, 0)
      else luma(img.getRGB(x, y))

    /** Encode a grayscale image whose pixel (x, y) is `f(x, y)` as PNG.
      * Deterministic: PNG is lossless and the JDK writer is stable for
      * TYPE_BYTE_GRAY input.
      */
    def encodeGrayPng(width: Int, height: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { raster.setSample(x, y, 0, f(x, y) & 0xFF); x += 1 }
        y += 1
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Nearest-neighbor resample to `dw`×`dh` gray bytes (row-major):
      * out(x, y) = luma(src(⌊x·sw/dw⌋, ⌊y·sh/dh⌋)) — integer index
      * arithmetic, so the DuckDB oracle mirrors it exactly.
      */
    def resizeGray(img: BufferedImage, dw: Int, dh: Int): Array[Byte] = {
      val sw = img.getWidth; val sh = img.getHeight
      val out = new Array[Byte](dw * dh)
      var y = 0
      while (y < dh) {
        var x = 0
        while (x < dw) {
          out(y * dw + x) =
            grayAt(img, x * sw / dw, y * sh / dh).toByte
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Wrap a text corpus as binary blobs (stand-in for real media files —
    * the plumbing is type-identical).
    */
  def toBlobs(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      lit("application/octet-stream").as("media_type"),
      col(payloadCol).cast("binary").as("data"))

  /** The decode stage: batched per-partition map — mirrors the
    * `mapInPandas` batch shape (a real codec amortizes model/codec init
    * per batch, not per row). Image payloads (magic-sniffed) decode for
    * REAL via [[ImageCodec]]: true width/height and a 16-bin pixel-luma
    * histogram; other payloads keep the deterministic stub so the
    * operator stays total over mixed media columns.
    */
  def decodeFeatures(blobs: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch init would go here (codec/model handle)
        batch.iterator.map { b =>
          ImageCodec.decode(b.data) match {
            case Some(img) =>
              val hist = new Array[Double](StubDecoder.HistBins)
              val (w, h) = (img.getWidth, img.getHeight)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  hist(ImageCodec.grayAt(img, x, y) /
                    (256 / StubDecoder.HistBins)) += 1.0
                  x += 1
                }
                y += 1
              }
              val total = math.max(w.toLong * h, 1L).toDouble
              var j = 0
              while (j < StubDecoder.HistBins) { hist(j) /= total; j += 1 }
              MediaFeatures(b.doc_id, b.media_type, b.data.length.toLong,
                w, h, hist)
            case None => StubDecoder.decode(b)
          }
        }
      }
    }.toDF()
  }

  /** Deterministic synthetic gray PNG per row: width = 8 + id mod 16,
    * height = 8 + (id/16) mod 16, pixel (x, y) = (31·id + 7x + 13y)
    * mod 256 — every statistic of the image is an integer formula of
    * the id, which is what makes the REAL encode→decode pipeline
    * oracle-checkable (DuckDB recomputes the formula analytically; the
    * engine must reproduce it through actual PNG bytes). Runs in the
    * same batched partition pass as the decoders.
    */
  def synthGrayPng(df: DataFrame, idCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { id =>
            val w = (8 + id % 16).toInt
            val h = (8 + (id / 16) % 16).toInt
            MediaBlob(id, "image/png", ImageCodec.encodeGrayPng(w, h,
              (x, y) => ((31 * id + 7 * x + 13 * y) % 256).toInt))
          }
        }
      }.toDF()
  }

  /** Pixel statistics of REAL decoded images: true dimensions plus the
    * exact integer luma sum (order-independent — bit-reproducible on
    * any partitioning). Rows whose payload does not decode are dropped,
    * the filter-the-corrupt-files step of a real media pipeline.
    */
  final case class ImageStats(doc_id: Long, width: Int, height: Int,
      n_pixels: Long, luma_sum: Long)
  def imageStats(blobs: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { b =>
          ImageCodec.decode(b.data).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            var s = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { s += ImageCodec.grayAt(img, x, y); x += 1 }
              y += 1
            }
            ImageStats(b.doc_id, w, h, w.toLong * h, s)
          }
        }
      }
    }.toDF()
  }

  /** REAL image resize: decode → nearest-neighbor gray resample →
    * re-encode as PNG, emitting a blob the rest of the pipeline (e.g.
    * [[imageStats]]) consumes like any other image. Non-decodable rows
    * drop. Stays partition-local like every codec stage.
    */
  def resizeImage(blobs: DataFrame, width: Int, height: Int,
      batchSize: Int = 64): DataFrame = {
    require(width > 0 && height > 0, "target dimensions must be positive")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { b =>
          ImageCodec.decode(b.data).map { img =>
            val g = ImageCodec.resizeGray(img, width, height)
            MediaBlob(b.doc_id, "image/png",
              ImageCodec.encodeGrayPng(width, height,
                (x, y) => g(y * width + x) & 0xFF))
          }
        }
      }
    }.toDF()
  }

  /** One sampled frame of a media blob (video frame-sampling shape). */
  final case class MediaFrame(doc_id: Long, frame_idx: Long, ts_ms: Long,
      data: Array[Byte])

  /** Frame sampling: one blob fans out to its frames — the batched
    * per-partition flatMap shape a video pipeline needs (rows multiply,
    * so this is the stage that must NOT collect or re-shuffle first; it
    * pipelines inside the scan's partition). The stub "codec" slices the
    * payload into fixed-size chunks at 25 fps (40 ms/frame), keeping
    * every `everyN`-th frame; a real decoder replaces only the slicing.
    */
  def frameSample(blobs: DataFrame, frameBytes: Int = 256, everyN: Int = 1,
      batchSize: Int = 64): DataFrame = {
    require(frameBytes > 0 && everyN > 0, "frameBytes and everyN must be positive")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch init would go here (demuxer/codec handle)
        batch.iterator.flatMap { b =>
          val n = b.data.length
          val nFrames = (n + frameBytes - 1) / frameBytes
          (0 until nFrames by everyN).iterator.map { f =>
            val from = f * frameBytes
            MediaFrame(b.doc_id, f.toLong, f.toLong * 40L,
              java.util.Arrays.copyOfRange(b.data, from, math.min(from + frameBytes, n)))
          }
        }
      }
    }.toDF()
  }

  /** A resized media payload (stub codec). */
  final case class ResizedMedia(doc_id: Long, media_type: String,
      width: Int, height: Int, data: Array[Byte])

  /** Resize stage: deterministic nearest-neighbor "downsample" of the
    * byte payload to exactly width*height bytes (index-scaled sampling;
    * zero-filled for empty payloads). Schema and batch shape match what a
    * real image resize over `mapInPandas` produces.
    */
  def resizeStub(blobs: DataFrame, width: Int, height: Int,
      batchSize: Int = 64): DataFrame = {
    require(width > 0 && height > 0, "target dimensions must be positive")
    val spark = blobs.sparkSession
    import spark.implicits._
    val outLen = width * height
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { b =>
          val n = b.data.length
          val out = new Array[Byte](outLen)
          if (n > 0) {
            var i = 0
            while (i < outLen) {
              out(i) = b.data((i.toLong * n / outLen).toInt)
              i += 1
            }
          }
          ResizedMedia(b.doc_id, b.media_type, width, height, out)
        }
      }
    }.toDF()
  }

  /** 64-bit average-hash of REAL decoded images — the image-level
    * near-dup fingerprint (pHash family). The image is reduced to an
    * 8×8 grid by NEAREST-NEIGHBOR sampling at (x·w div 8, y·h div 8)
    * (not box-average pooling — nearest keeps every step integer, so
    * the whole hash is an exact integer function of the pixels and the
    * DuckDB oracle can recompute it analytically for formula-generated
    * images); bit (y·8+x) is set when `64·sample > Σ samples` (strict,
    * integer — no float mean). The hash ships as two uint32 halves
    * (`hash_hi` = bits 32..63, `hash_lo` = bits 0..31): building
    * `1 << 63` would overflow signed 64-bit on the SQL side.
    *
    * Rows that do not decode are dropped (the corrupt-file filter).
    * Scale shape: one batched partition pass, (id, 2×long) out.
    */
  final case class AHash(doc_id: Long, hash_hi: Long, hash_lo: Long)
  def aHash64(blobs: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { b =>
          ImageCodec.decode(b.data).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            val s = Array.tabulate(64) { pos =>
              val x = pos % 8; val y = pos / 8
              ImageCodec.grayAt(img, x * w / 8, y * h / 8).toLong
            }
            val total = s.sum
            var hi = 0L; var lo = 0L
            var pos = 0
            while (pos < 64) {
              if (64L * s(pos) > total) {
                if (pos < 32) lo |= 1L << pos else hi |= 1L << (pos - 32)
              }
              pos += 1
            }
            AHash(b.doc_id, hi, lo)
          }
        }
      }
    }.toDF()
  }

  /** Image near-dup pairs by Hamming distance over [[aHash64]] hashes,
    * found via 16-bit band blocking: a pair within distance `maxDist`
    * ≤ 3 differs in at most 3 of the 4 bands, so BY PIGEONHOLE it
    * collides on at least one — the banding is exact, not approximate,
    * and the result is fully oracle-checkable. Candidates from the
    * band equi-join verify the true distance with `bit_count(xor)`.
    *
    * Scale shape: the only corpus-sized exchange carries (id, 2 longs,
    * band key); candidate fan-out is bounded by band-bucket sizes (16
    * bits → 65k buckets per band; skewed buckets mean near-identical
    * images, which ARE the answer — up to a point: monochrome/flat
    * images ALL share one aHash, so their bands go quadratic). Band
    * values whose document frequency exceeds `maxBandDf` are dropped
    * before the self-join (the maxShingleDf convention): pairs that
    * collide ONLY on dropped bands are missed, so the ≤3-bit
    * pigeonhole guarantee holds exactly for pairs with at least one
    * surviving shared band — the documented trade on hot bands. The df
    * window partitions on the join key, so the cap reuses the join's
    * exchange. No all-pairs join exists.
    */
  def aHashNearDup(hashes: DataFrame, maxDist: Int = 3,
      maxBandDf: Int = 4096): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "4-band pigeonhole blocking is exact only for maxDist <= 3")
    // 0 disables the cap — the repo-wide df-cap convention
    // (maxPrefixDf/maxShingleDf); a cap of 1 can never pair
    require(maxBandDf == 0 || maxBandDf >= 2,
      "maxBandDf must be 0 (disabled) or >= 2")
    import org.apache.spark.sql.expressions.Window
    val wDf = Window.partitionBy(col("band_idx"), col("band_val"))
    val allBands = aHashBands(hashes)
    val bands =
      if (maxBandDf == 0) allBands
      else allBands
        .withColumn("__df", count(lit(1)).over(wDf))
        .filter(col("__df") <= maxBandDf)
        .drop("__df")
    val dist = bit_count(col("x.hash_hi").bitwiseXOR(col("y.hash_hi"))) +
      bit_count(col("x.hash_lo").bitwiseXOR(col("y.hash_lo")))
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        dist.cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** The 4×16-bit band explode of [[aHashNearDup]]: one row per (doc,
    * band position).
    */
  private def aHashBands(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        posexplode(array(
          pmod(col("hash_lo"), lit(65536L)),
          expr("hash_lo div 65536"),
          pmod(col("hash_hi"), lit(65536L)),
          expr("hash_hi div 65536"))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")

  /** Real audio codec over `javax.sound.sampled` — pure JDK, the audio
    * analog of [[ImageCodec]]. 16-bit mono PCM inside a WAV container
    * is LOSSLESS, so a formula-generated clip round-trips its exact
    * samples through a true encode→decode and every integer sample
    * statistic is oracle-gatable (DuckDB recomputes them from the
    * generator formula, the [[aHashCtesSql]] pattern).
    */
  object AudioCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    private val Format =
      new AudioFormat(8000f, 16, 1, /*signed*/ true, /*bigEndian*/ false)

    /** RIFF/WAVE magic sniff — the [[ImageCodec.looksLikeImage]] guard. */
    def looksLikeWav(b: Array[Byte]): Boolean =
      b.length >= 12 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

    /** Encode `samples` as a 16-bit mono PCM WAV through the real JDK
      * writer (header + little-endian frames).
      */
    def encodePcmWav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        pcm(2 * i) = (samples(i) & 0xFF).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new AudioInputStream(
        new ByteArrayInputStream(pcm), Format, samples.length.toLong)
      val out = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Decode WAV bytes back to samples via the real JDK reader; None
      * for non-WAV/corrupt payloads (the corrupt-file filter).
      */
    def decodePcm(bytes: Array[Byte]): Option[Array[Short]] =
      if (!looksLikeWav(bytes)) None
      else try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1) << 8)).toShort
          i += 1
        }
        Some(out)
      } catch { case _: Exception => None }
  }

  /** Formula-generated audio corpus: one WAV blob per input id through
    * the REAL `javax.sound` encoder. Sample i of clip `id` is
    * `((31·id + 7·i) mod 4096) − 2048`, except every third 256-sample
    * frame is silent (all-zero) so silence detection has something to
    * find; clip length `2000 + (id mod 7)·300` exercises ragged tail
    * frames. Integer formula → bit-exact round-trip → analytic oracle.
    */
  def synthPcmWav(df: DataFrame, idCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { id =>
            val n = 2000 + (id % 7).toInt * 300
            val samples = Array.tabulate(n) { i =>
              if ((i / 256) % 3 == 0) 0.toShort
              else (((31 * id + 7 * i) % 4096) - 2048).toShort
            }
            MediaBlob(id, "audio", AudioCodec.encodePcmWav(samples))
          }
        }
      }.toDF()
  }

  /** Per-clip integer sample statistics through a REAL decode: sample
    * count, total energy (Σ s², exact long), peak |s|, and
    * silent/total 256-sample frame counts (a frame is silent iff every
    * sample is 0). Rows that fail the decode are dropped. All outputs
    * are integers — the oracle recomputes them from the generator
    * formula with no float anywhere.
    */
  final case class AudioStats(doc_id: Long, n_samples: Long, energy: Long,
      peak: Int, n_frames: Long, silent_frames: Long)
  def audioStats(blobs: DataFrame, frameSize: Int = 256,
      batchSize: Int = 64): DataFrame = {
    require(frameSize >= 1, "frameSize must be >= 1")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { b =>
          AudioCodec.decodePcm(b.data).map { s =>
            var energy = 0L
            var peak = 0
            var silent = 0L
            var frameStart = 0
            while (frameStart < s.length) {
              val end = math.min(frameStart + frameSize, s.length)
              var i = frameStart
              var frameSilent = true
              while (i < end) {
                val v = s(i).toInt
                energy += v.toLong * v
                if (math.abs(v) > peak) peak = math.abs(v)
                if (v != 0) frameSilent = false
                i += 1
              }
              if (frameSilent) silent += 1
              frameStart = end
            }
            val nFrames = (s.length.toLong + frameSize - 1) / frameSize
            AudioStats(b.doc_id, s.length.toLong, energy, peak, nFrames,
              silent)
          }
        }
      }
    }.toDF()
  }

  /** REAL audio transform: decode, drop every all-zero `frameSize`
    * frame (silence trimming — the preprocessing step a speech
    * pipeline runs before feature extraction), re-encode through the
    * real writer. The image-resize analog for audio: decode →
    * transform → encode, all verifiable because PCM is lossless.
    * Rows that fail the decode are dropped.
    */
  def trimSilence(blobs: DataFrame, frameSize: Int = 256,
      batchSize: Int = 64): DataFrame = {
    require(frameSize >= 1, "frameSize must be >= 1")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { b =>
          AudioCodec.decodePcm(b.data).map { s =>
            val kept = s.grouped(frameSize)
              .filter(_.exists(_ != 0)).flatten.toArray
            MediaBlob(b.doc_id, b.media_type,
              AudioCodec.encodePcmWav(kept))
          }
        }
      }
    }.toDF()
  }

  /** DuckDB mirror of [[synthPcmWav]] → [[trimSilence]] →
    * [[audioStats]]: every third frame of the generator is silent by
    * construction, so the trimmed clip is exactly the non-silent
    * frames — recomputed analytically. `idsSql` selects one column
    * `id`.
    */
  def audioTrimStatsSql(idsSql: String, frameSize: Int = 256): String =
    s"""WITH au_ids AS ($idsSql),
       |au_s0 AS (
       |  SELECT id, i,
       |    CASE WHEN ((i // $frameSize) % 3) = 0 THEN 0
       |         ELSE ((31 * id + 7 * i) % 4096) - 2048 END AS s
       |  FROM (SELECT id, unnest(range(0, 2000 + (id % 7) * 300)) AS i
       |        FROM au_ids)),
       |au_k AS (
       |  SELECT id, s,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY i) - 1 AS ki
       |  FROM (
       |    SELECT id, i, s,
       |      MAX(ABS(s)) OVER (PARTITION BY id, i // $frameSize) AS fmx
       |    FROM au_s0)
       |  WHERE fmx > 0),
       |au_f AS (
       |  SELECT id, ki // $frameSize AS f,
       |    CAST(SUM(s * s) AS BIGINT) AS fe,
       |    CAST(MAX(ABS(s)) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
       |    CAST(COUNT(*) AS BIGINT) AS fn
       |  FROM au_k GROUP BY 1, 2)
       |SELECT id AS doc_id, CAST(SUM(fn) AS BIGINT) AS n_samples,
       |  CAST(SUM(fe) AS BIGINT) AS energy,
       |  CAST(MAX(fp) AS INT) AS peak,
       |  CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(SUM(CASE WHEN nz = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS silent_frames
       |FROM au_f GROUP BY id""".stripMargin

  /** DuckDB mirror of [[synthPcmWav]] → [[audioStats]]: the statistics
    * recomputed ANALYTICALLY from the sample formula — the engine must
    * reproduce them through a real WAV encode→decode. `idsSql` selects
    * one column `id`.
    */
  def audioStatsSql(idsSql: String, frameSize: Int = 256): String =
    s"""WITH au_ids AS ($idsSql),
       |au_s AS (
       |  SELECT id, i,
       |    CASE WHEN ((i // $frameSize) % 3) = 0 THEN 0
       |         ELSE ((31 * id + 7 * i) % 4096) - 2048 END AS s
       |  FROM (SELECT id, unnest(range(0, 2000 + (id % 7) * 300)) AS i
       |        FROM au_ids)),
       |au_f AS (
       |  SELECT id, i // $frameSize AS f,
       |    CAST(SUM(s * s) AS BIGINT) AS fe,
       |    CAST(MAX(ABS(s)) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
       |    CAST(COUNT(*) AS BIGINT) AS fn
       |  FROM au_s GROUP BY 1, 2)
       |SELECT id AS doc_id, CAST(SUM(fn) AS BIGINT) AS n_samples,
       |  CAST(SUM(fe) AS BIGINT) AS energy,
       |  CAST(MAX(fp) AS INT) AS peak,
       |  CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(SUM(CASE WHEN nz = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS silent_frames
       |FROM au_f GROUP BY id""".stripMargin

  /** DuckDB mirror of [[synthGrayPng]] → [[aHash64]]: the hash
    * recomputed ANALYTICALLY from the pixel formula `(31·id + 7x +
    * 13y) mod 256` — the engine must reproduce it through actual PNG
    * encode→decode. `idsSql` selects one column `id`. Emitted as CTE
    * clauses (callers append after their own WITH list).
    */
  def aHashCtesSql(idsSql: String): String =
    s"""ah_ids AS ($idsSql),
       |ah_px AS (
       |  SELECT id, pos,
       |    (31 * id + 7 * (((pos % 8) * (8 + id % 16)) // 8)
       |       + 13 * (((pos // 8) * (8 + (id // 16) % 16)) // 8)) % 256 AS v
       |  FROM ah_ids CROSS JOIN (SELECT unnest(range(0, 64)) AS pos)),
       |ah_b AS (
       |  SELECT id, pos,
       |    CASE WHEN 64 * v > SUM(v) OVER (PARTITION BY id)
       |      THEN 1 ELSE 0 END AS bit
       |  FROM ah_px),
       |ah AS (
       |  SELECT id AS doc_id,
       |    CAST(SUM(CASE WHEN pos >= 32
       |      THEN bit * (CAST(1 AS BIGINT) << (pos - 32))
       |      ELSE 0 END) AS BIGINT) AS hash_hi,
       |    CAST(SUM(CASE WHEN pos < 32
       |      THEN bit * (CAST(1 AS BIGINT) << pos)
       |      ELSE 0 END) AS BIGINT) AS hash_lo
       |  FROM ah_b GROUP BY id)""".stripMargin
}
