package graft.operators

import graft.functions.{DetRand => R}
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star spec): media as opaque BINARY columns
  * with typed metadata; decode / feature-extract / frame-sample as distributed
  * per-partition transforms.
  *
  * Decoding is pluggable ([[MediaDecoder]]): the same per-partition pipeline
  * runs [[ByteStatsDecoder]] (statistics over the raw byte stream — the
  * deterministic implementation whose output the DuckDB oracle replays from
  * the LCG closed form) and three REAL JDK codecs — [[ImageIoDecoder]]
  * (`javax.imageio` PNG, pixel stats), [[WavDecoder]] (`javax.sound.sampled`
  * 8-bit PCM WAV, sample stats + frame energy/ZCR), and the multi-frame GIF
  * container reader ([[gifFrameStats]]). Each fixture encodes LCG-generated
  * data through a LOSSLESS round-trip, so every real-codec path is
  * oracle-checked: the SQL twin recomputes the stream the codec must recover
  * byte-for-byte, and a decode bug (wrong raster order, color management,
  * truncation, frame order) is a hash mismatch, not a silent drift.
  *
  * Scale: payloads never shuffle — decode/feature-extract are narrow
  * per-partition passes; only the small (media_id, feature) projections move.
  * That is the invariant that matters at 100 TB of media: metadata flows
  * through joins, bytes stay put.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, width: Int, height: Int, payload: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           mean_byte: Double, max_byte: Int, checksum: Long)

  /** Pluggable per-row decode + feature extraction. Implementations must be
    * serializable singletons (they ship inside task closures) and must be
    * deterministic: same payload, same features, on every executor.
    * `n_bytes`/`mean_byte`/`max_byte`/`checksum` are statistics over the
    * decoder's SAMPLE DOMAIN — raw bytes for [[ByteStatsDecoder]], decoded
    * pixels for [[ImageIoDecoder]] — so downstream aggregation is
    * decoder-agnostic.
    */
  trait MediaDecoder extends Serializable {
    def decode(row: MediaRow): MediaFeatures
  }

  /** Shared statistics kernel: mean, max, and the position-weighted checksum
    * Σ (i+1)·vᵢ over any 0..255 sample stream — order-sensitive like a
    * polynomial hash but exactly expressible in the DuckDB oracle (no 2^64
    * wrap).
    */
  private def sampleStats(row: MediaRow, n: Int, sample: Int => Int): MediaFeatures = {
    // an empty sample domain would make mean_byte NaN and silently propagate;
    // fail loudly like the decoders' other error paths
    require(n > 0, s"media_id=${row.media_id}: empty sample stream")
    var sum = 0L
    var mx = 0
    var ck = 0L
    var i = 0
    while (i < n) {
      val v = sample(i)
      sum += v
      if (v > mx) mx = v
      ck += (i + 1).toLong * v
      i += 1
    }
    MediaFeatures(row.media_id, row.kind, n, sum.toDouble / n, mx, ck)
  }

  /** Byte-domain decoder: statistics straight over the payload bytes. This is
    * the deterministic implementation the oracle replays via the LCG closed
    * form — and the stand-in for formats with no JDK codec (e.g. real video
    * bitstreams): the Spark-side batch shape is identical either way.
    */
  object ByteStatsDecoder extends MediaDecoder {
    def decode(row: MediaRow): MediaFeatures =
      sampleStats(row, row.payload.length, i => row.payload(i) & 0xff)
  }

  /** Real-codec decoder: `javax.imageio` PNG/BMP decode (JDK-built-in, runs
    * headless), statistics over the decoded gray raster in row-major order.
    * Fails loudly on undecodable payloads — a corrupt file should surface,
    * not degrade into zeros.
    */
  object ImageIoDecoder extends MediaDecoder {
    javax.imageio.ImageIO.setUseCache(false) // in-memory streams, no /tmp cache
    def decode(row: MediaRow): MediaFeatures = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      require(img != null, s"media_id=${row.media_id}: payload is not a decodable image")
      val raster = img.getRaster
      val w = img.getWidth
      sampleStats(row, w * img.getHeight, i => raster.getSample(i % w, i / w, 0))
    }
  }

  /** The first `n` payload bytes of `seed`, the one byte stream every media
    * fixture encodes: x₀ = (seed·40503 + 12345) mod 2³¹,
    * x_e = (69069·x_{e−1} + 12345) mod 2³¹, byte e−1 = bits 8..15 of x_e
    * (the oracle's closed form, [[bytesSql]]).
    */
  private def lcgBytes(seed: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var x = (seed * 40503 + 12345) % M31
    var i = 0
    while (i < n) {
      x = (x * 69069 + 12345) % M31
      out(i) = (x >>> 8).toByte
      i += 1
    }
    out
  }

  /** Synthetic media table: deterministic pseudo-random payload per id
    * ([[lcgBytes]]), so the table is reproducible across runs/engines.
    */
  def mediaTable(spark: SparkSession, n: Long = 64, bytesPer: Int = 4096): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val kind = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        MediaRow(id, kind, 64, 48, lcgBytes(id, bytesPer))
      }
    }.toDF()
  }

  /** Real-codec AUDIO decoder: `javax.sound.sampled` WAV decode (JDK
    * built-in). The fixture is 8-bit UNSIGNED mono PCM, so each decoded
    * sample is exactly one payload byte (0..255) — the WAV round-trip is
    * lossless and the oracle replays the sample stream from the LCG closed
    * form, same stance as [[ImageIoDecoder]]. Fails loudly on undecodable
    * payloads.
    */
  object WavDecoder extends MediaDecoder {
    def decode(row: MediaRow): MediaFeatures = {
      val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"media_id=${row.media_id}: payload is not a decodable WAV", e)
      }
      val samples =
        try in.readAllBytes()
        finally in.close()
      sampleStats(row, samples.length, i => samples(i) & 0xff)
    }
  }

  /** WAV fixture geometry: [[WavSamples]] 8-bit samples per clip at 8 kHz. */
  val WavSamples = 4000
  val WavN = 48L

  /** WAV corpus: each clip's 8-bit unsigned PCM samples are the SAME LCG
    * stream as [[mediaTable]]'s payload bytes, encoded through the real
    * `javax.sound.sampled` WAV writer — [[WavDecoder]]'s sample statistics
    * must equal the closed-form LCG statistics the oracle computes.
    */
  def wavMediaTable(spark: SparkSession, n: Long = WavN): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        8000f, 8, 1, 1, 8000f, false)
      ids.map { id =>
        val pcm = lcgBytes(id, WavSamples)
        val stream = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, WavSamples.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          stream, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        MediaRow(id, "audio", 0, 0, baos.toByteArray)
      }
    }.toDF()
  }

  /** Real-codec audio feature extraction: `javax.sound.sampled` decodes the
    * WAV corpus per partition, oracle-checked against the LCG sample stream.
    */
  def wavFeatures(spark: SparkSession, n: Long = WavN): DataFrame = {
    import spark.implicits._
    wavMediaTable(spark, n).as[MediaRow]
      .mapPartitions(_.map(WavDecoder.decode)).toDF()
  }

  /** GIF fixture geometry: [[GifFrames]] frames of [[GifW]]×[[GifH]] gray
    * pixels per clip. */
  val GifW = 32
  val GifH = 24
  val GifFrames = 8
  val GifN = 24L

  /** Multi-frame GIF corpus — the VIDEO-shaped rung with a REAL container
    * codec: the JDK ships no video decoder, but animated GIF is a genuine
    * multi-frame container the `javax.imageio` writer/reader handle natively,
    * and a 256-level gray palette makes the round-trip LOSSLESS. Frames
    * carry one continuing LCG pixel stream per clip, so frame extraction is
    * oracle-checkable against the closed form (frame = i div W·H).
    */
  def gifMediaTable(spark: SparkSession, n: Long = GifN): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val baos = new java.io.ByteArrayOutputStream()
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        val px = lcgBytes(id, GifFrames * GifW * GifH) // one stream across frames
        var f = 0
        while (f < GifFrames) {
          val img = new java.awt.image.BufferedImage(
            GifW, GifH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var j = 0
          while (j < GifW * GifH) {
            raster.setSample(j % GifW, j / GifW, 0, px(f * GifW * GifH + j) & 0xff)
            j += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        writer.dispose()
        MediaRow(id, "video", GifW, GifH, baos.toByteArray)
      }
    }.toDF()
  }

  /** Real-container frame extraction: the `javax.imageio` GIF reader parses
    * the multi-frame container per partition and each frame's gray values
    * are read through getRGB (palette-order independent), giving exact
    * per-frame statistics the oracle replays from the LCG stream. Narrow:
    * payloads never shuffle.
    */
  def gifFrameStats(spark: SparkSession, n: Long = GifN): DataFrame = {
    import spark.implicits._
    gifMediaTable(spark, n).as[MediaRow].flatMap { row =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      reader.setInput(iis)
      val frames =
        try {
          val num = reader.getNumImages(true)
          (0 until num).map { f =>
            val img = reader.read(f)
            var sum = 0L; var mx = 0; var ck = 0L
            var j = 0
            val w = img.getWidth
            val np = w * img.getHeight
            while (j < np) {
              val v = img.getRGB(j % w, j / w) & 0xff // gray: R=G=B
              sum += v; if (v > mx) mx = v; ck += (j + 1).toLong * v
              j += 1
            }
            (row.media_id, f, np, sum.toDouble / np, mx, ck)
          }
        } finally { reader.dispose(); iis.close() }
      frames
    }.toDF("media_id", "frame_id", "n_pixels", "mean_px", "max_px", "checksum")
  }

  /** Samples per analysis frame for [[wavFrameFeatures]]. */
  val WavFrameLen = 400

  /** Frame-level audio features over the REAL-codec decode — the
    * feature-extract stage an audio pipeline runs after the container
    * parse: per [[WavFrameLen]]-sample frame, the energy Σ(s−128)² and the
    * zero-crossing count (sign changes around the unsigned-PCM midpoint,
    * within-frame only). All integer arithmetic over losslessly recovered
    * samples, so the oracle recomputes both from the LCG closed form.
    * Narrow per-partition pass: payloads never shuffle, only the
    * (media_id, frame, features) rows move.
    */
  def wavFrameFeatures(spark: SparkSession, n: Long = WavN): DataFrame = {
    import spark.implicits._
    wavMediaTable(spark, n).as[MediaRow].flatMap { row =>
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      val s = try in.readAllBytes() finally in.close()
      (0 until s.length / WavFrameLen).map { f =>
        var energy = 0L
        var zcr = 0L
        var i = f * WavFrameLen
        val end = i + WavFrameLen
        var prevHi = false
        var first = true
        while (i < end) {
          val v = s(i) & 0xff
          val d = (v - 128).toLong
          energy += d * d
          val hi = v >= 128
          if (!first && hi != prevHi) zcr += 1
          prevHi = hi
          first = false
          i += 1
        }
        (row.media_id, f, WavFrameLen, energy, zcr)
      }
    }.toDF("media_id", "frame_id", "n_samples", "energy", "zcr")
  }

  /** PNG fixture geometry: [[PngW]]×[[PngH]] gray pixels per image. */
  val PngW = 64
  val PngH = 48
  val PngN = 48L

  /** PNG corpus: each image's gray pixels are the SAME LCG stream as
    * [[mediaTable]]'s payload bytes (row-major), encoded through the real
    * `javax.imageio` PNG writer. Lossless encode + lossless decode means
    * [[ImageIoDecoder]]'s pixel statistics must equal the closed-form LCG
    * statistics the oracle computes — the codec round-trip is the thing
    * under test.
    */
  def pngMediaTable(spark: SparkSession, n: Long = PngN): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val img = new java.awt.image.BufferedImage(
          PngW, PngH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        val px = lcgBytes(id, PngW * PngH)
        var i = 0
        while (i < PngW * PngH) {
          raster.setSample(i % PngW, i / PngW, 0, px(i) & 0xff)
          i += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        MediaRow(id, "image", PngW, PngH, baos.toByteArray)
      }
    }.toDF()
  }

  // ---------------- perceptual-hash image dedup ----------------

  /** Base images in the pHash dedup fixture; ids >= PhashBase are NEAR-dup
    * re-uploads of id − PhashBase (same LCG pixel stream with every 97th
    * pixel inverted — the brightness-touched re-post exact payload dedup
    * cannot catch, since the PNG bytes differ). */
  val PhashBase = 24L
  val PhashN = 2 * PhashBase
  /** aHash geometry: an 8×8 grid of block means over the 64×48 raster
    * (block = 8×6 pixels), bit k = [64·blockSum_k > totalSum] — the exact
    * integer cross-multiplied form of blockMean > globalMean, so both
    * engines compute identical bits with no division. */
  val PhashBands = 8
  val PhashBandBits = 8
  /** Near-dup pair threshold on the 64-bit Hamming distance. Planted pairs
    * measure 0-2 (≤32 of 3072 pixels touched barely moves block means);
    * random LCG pairs center at 32. */
  val PhashHamMax = 6

  /** pHash fixture: REAL PNG payloads whose pixels come from the base-keyed
    * LCG stream, with the variant half perturbed BEFORE encode. Same
    * lossless round-trip stance as [[pngMediaTable]] — the oracle replays
    * pixel, perturbation, hash, banding, and pairing from the closed form.
    */
  def phashMediaTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(PhashN).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val base = id % PhashBase
        val variant = id >= PhashBase
        val img = new java.awt.image.BufferedImage(
          PngW, PngH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        val px = lcgBytes(base, PngW * PngH)
        var i = 0
        while (i < PngW * PngH) {
          val v = px(i) & 0xff
          raster.setSample(i % PngW, i / PngW, 0, if (variant && i % 97 == 0) 255 - v else v)
          i += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        MediaRow(id, "image", PngW, PngH, baos.toByteArray)
      }
    }.toDF()
  }

  /** (media_id, band, bkey): block-mean aHash over the REAL decoded raster,
    * one narrow pass per image — payloads never shuffle; only the
    * [[PhashBands]] band bytes move. Hamming distance downstream is XOR
    * popcount over the band bytes, so the bands ARE the hash.
    */
  private[operators] def phashBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    phashMediaTable(spark).as[MediaRow].flatMap { row =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      require(img != null, s"media_id=${row.media_id}: payload is not a decodable image")
      val raster = img.getRaster
      val w = img.getWidth
      val n = w * img.getHeight
      val bs = new Array[Long](64)
      var ts = 0L
      var i = 0
      while (i < n) {
        val v = raster.getSample(i % w, i / w, 0).toLong
        bs(((i / w) / 6) * 8 + (i % w) / 8) += v
        ts += v
        i += 1
      }
      val bits = bs.map(b => if (64L * b > ts) 1L else 0L)
      (0 until PhashBands).map { band =>
        val bkey = (0 until PhashBandBits)
          .map(j => bits(band * PhashBandBits + j) << (PhashBandBits - 1 - j)).sum
        (row.media_id, band, bkey)
      }
    }.toDF("media_id", "band", "bkey")
  }

  /** Near-duplicate image pairs by perceptual hash — the standard
    * LLM-pipeline image dedup: candidates from ANY-band equality (the
    * MinHash/SimHash banding shape — an equi-join on (band, key), never
    * all-pairs), then the exact 64-bit Hamming distance over the candidate
    * set, thresholded at [[PhashHamMax]]. At scale the band join carries
    * ~n·collision rows and the hash pass is narrow; the raster never leaves
    * its partition.
    */
  def phashDedup(spark: SparkSession): DataFrame = {
    val h = phashBands(spark).localCheckpoint(eager = true)
    val cand = h.select(col("media_id").as("ma"), col("band"), col("bkey"))
      .join(h.select(col("media_id").as("mb"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("ma") < col("mb"))
      .select("ma", "mb").distinct()
    // exact Hamming over candidates: 8 band rows per pair, XOR popcount
    val ham = cand
      .join(h.select(col("media_id").as("ma"), col("band"), col("bkey").as("ka")), Seq("ma"))
      .join(h.select(col("media_id").as("mb"), col("band"), col("bkey").as("kb")),
        Seq("mb", "band"))
      .groupBy("ma", "mb")
      .agg(sum(bit_count(col("ka").bitwiseXOR(col("kb")))).as("hamming"))
    ham.filter(col("hamming") <= PhashHamMax)
      .select(col("ma").as("media_a"), col("mb").as("media_b"), col("hamming"))
  }

  /** Re-upload factor for the dedup fixture: ids >= DupSeedMod carry
    * byte-identical payloads of id mod DupSeedMod. */
  val DupSeedMod = 48L

  /** Synthetic re-ingested media: the same byte generator as [[mediaTable]]
    * but seeded with id mod [[DupSeedMod]], so the tail of the table is
    * byte-for-byte re-uploads of earlier rows — the duplicate structure an
    * ingest actually sees (same file posted twice under new ids).
    */
  private def dupMediaTable(spark: SparkSession, n: Long = 64, bytesPer: Int = 1024): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val seed = id % DupSeedMod
        val kind = if (seed % 3 == 0) "image" else if (seed % 3 == 1) "audio" else "video"
        MediaRow(id, kind, 64, 48, lcgBytes(seed, bytesPer))
      }
    }.toDF()
  }

  /** Exact payload dedup over the BINARY column: group on md5(payload), so
    * the shuffle key is 32 bytes per row no matter how large the media is —
    * the same digest-not-content discipline as text dedup ([[Dedup.exact]]),
    * applied to bytes. Spark hashes the REAL payload bytes; the oracle
    * derives the expected groups structurally from the seed arithmetic
    * (id mod [[DupSeedMod]]), so a digest collision, a byte-generation
    * drift, or a hash-of-reference bug would all surface as a mismatch.
    */
  def payloadDedup(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDigest = Window.partitionBy("digest")
    dupMediaTable(spark)
      .select(col("media_id"), md5(col("payload")).as("digest"))
      .withColumn("canonical_id", min(col("media_id")).over(byDigest))
      .withColumn("group_size", count(lit(1)).over(byDigest))
      .select(col("media_id"), col("canonical_id"), col("group_size"),
        (col("media_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** Decode + feature-extract: narrow mapPartitions, no payload shuffle.
    * The decoder is a parameter — same plan shape for the byte-domain and
    * real-codec implementations.
    */
  def extractFeatures(spark: SparkSession, n: Long = 64,
                      decoder: MediaDecoder = ByteStatsDecoder): DataFrame = {
    import spark.implicits._
    mediaTable(spark, n).as[MediaRow].mapPartitions(_.map(decoder.decode)).toDF()
  }

  /** Real-codec feature extraction: `javax.imageio` decodes the PNG corpus
    * per partition; statistics are over DECODED PIXELS, oracle-checked
    * against the closed-form LCG pixel stream (lossless round-trip).
    */
  def pngFeatures(spark: SparkSession, n: Long = PngN): DataFrame = {
    import spark.implicits._
    pngMediaTable(spark, n).as[MediaRow]
      .mapPartitions(_.map(ImageIoDecoder.decode)).toDF()
  }

  /** Frame sampling for video rows: every strideth 1 KiB block becomes a
    * "frame" row — the explode happens on offsets, payload slicing is narrow.
    */
  def frameSample(spark: SparkSession, n: Long = 64, stride: Int = 4): DataFrame = {
    import spark.implicits._
    mediaTable(spark, n).as[MediaRow]
      .filter(_.kind == "video")
      .flatMap { r =>
        val frameSize = 1024
        val nFrames = r.payload.length / frameSize
        (0 until nFrames by stride).map { f =>
          val slice = java.util.Arrays.copyOfRange(r.payload, f * frameSize, (f + 1) * frameSize)
          (r.media_id, f, slice.length, slice.map(_ & 0xff).sum.toDouble / slice.length)
        }
      }
      .toDF("media_id", "frame_id", "frame_bytes", "frame_mean")
  }

  /** Per-kind feature aggregates — the post-decode relational hop. */
  def kindStats(spark: SparkSession, n: Long = 64): DataFrame =
    extractFeatures(spark, n)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        r6(avg(col("mean_byte"))).as("avg_mean_byte"),
        max(col("max_byte")).as("max_byte"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_features" -> ((s, _) => extractFeatures(s).orderBy("media_id")),
    "media_png_features" -> ((s, _) => pngFeatures(s).orderBy("media_id")),
    "media_wav_features" -> ((s, _) => wavFeatures(s).orderBy("media_id")),
    "media_wav_frames" -> ((s, _) => wavFrameFeatures(s).orderBy("media_id", "frame_id")),
    "media_gif_frames" -> ((s, _) => gifFrameStats(s).orderBy("media_id", "frame_id")),
    "media_frame_sample" -> ((s, _) => frameSample(s).orderBy("media_id", "frame_id")),
    "media_kind_stats" -> ((s, _) => kindStats(s).orderBy("kind")),
    "media_payload_dedup" -> ((s, _) => payloadDedup(s).orderBy("media_id")),
    "media_phash_dedup" -> ((s, _) => phashDedup(s).orderBy("media_a", "media_b"))
  )

  // ---------------- DuckDB oracle twins ----------------
  //
  // The payload LCG x_{e} = (69069·x_{e-1} + 12345) mod 2^31 has the closed
  // form x_e = (a^e·x0 + c·S_e) mod m with S_e = Σ_{j<e} a^j, so the oracle
  // reproduces every payload byte WITHOUT recursion: a^e and S_e are folded
  // from 13 bit-ladder stages whose per-bit constants a^(2^k) mod m and
  // S_(2^k) mod m are Scala-precomputed (all intermediates < 2^62, exact in
  // BIGINT). The JVM closures stay the "codec"; the byte stream they see is
  // thereby fully SQL-checkable.

  private val M31 = 2147483648L

  /** (a^(2^k) mod m, S_(2^k) mod m) for k = 0..12; S_1 = 1,
    * S_(2^(k+1)) = S_(2^k)·(1 + a^(2^k)).
    */
  private def ladder: Seq[(Long, Long)] = {
    var a = 69069L
    var s = 1L
    (0 until 13).map { _ =>
      val pair = (a, s)
      s = s * (1 + a) % M31
      a = a * a % M31
      pair
    }
  }

  /** CTEs ending in `bytes(media_id, i, b)` — byte i of media_id's payload. */
  private def bytesSql(n: Long, bytesPer: Int): String = {
    val stages = ladder.zipWithIndex.map { case ((ak, sk), k) =>
      s"""lcg${k + 1} AS (
         |  SELECT media_id, i, e, x0,
         |         CASE WHEN (e >> $k) & 1 = 1 THEN (s + p * $sk) % $M31 ELSE s END AS s,
         |         CASE WHEN (e >> $k) & 1 = 1 THEN (p * $ak) % $M31 ELSE p END AS p
         |  FROM lcg$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""idx AS (
       |  SELECT CAST(m.a AS BIGINT) AS media_id, CAST(b.c AS BIGINT) AS i,
       |         CAST(b.c AS BIGINT) + 1 AS e,
       |         (CAST(m.a AS BIGINT) * 40503 + 12345) % $M31 AS x0
       |  FROM range(0, $n) m(a) CROSS JOIN range(0, $bytesPer) b(c)
       |), lcg0 AS (
       |  SELECT media_id, i, e, x0, CAST(0 AS BIGINT) AS s, CAST(1 AS BIGINT) AS p FROM idx
       |),
       |$stages,
       |bytes AS (
       |  SELECT media_id, i, (((p * x0 + 12345 * s) % $M31) >> 8) & 255 AS b
       |  FROM lcg13
       |)""".stripMargin
  }

  private val kindSql =
    "CASE WHEN media_id % 3 = 0 THEN 'image' WHEN media_id % 3 = 1 THEN 'audio' ELSE 'video' END"

  private def featuresSql(n: Long, bytesPer: Int): String =
    s"""WITH ${bytesSql(n, bytesPer)},
       |features AS (
       |  SELECT media_id, $kindSql AS kind, CAST($bytesPer AS INT) AS n_bytes,
       |         CAST(sum(b) AS DOUBLE) / ${bytesPer}.0e0 AS mean_byte,
       |         CAST(max(b) AS INT) AS max_byte,
       |         CAST(sum((i + 1) * b) AS BIGINT) AS checksum
       |  FROM bytes GROUP BY 1, 2
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "media_payload_dedup" ->
      s"""SELECT media_id, canonical_id, group_size, media_id <> canonical_id AS is_dup FROM (
         |  SELECT CAST(a AS BIGINT) AS media_id,
         |         min(CAST(a AS BIGINT)) OVER (PARTITION BY a % $DupSeedMod) AS canonical_id,
         |         count(*) OVER (PARTITION BY a % $DupSeedMod) AS group_size
         |  FROM range(0, 64) t(a))
         |ORDER BY media_id""".stripMargin,
    "media_features" -> (featuresSql(64, 4096) +
      " SELECT * FROM features ORDER BY media_id"),
    // perceptual-hash dedup: the oracle replays pixel stream (base-keyed LCG
    // closed form), variant perturbation, block-mean aHash bits, band keys,
    // band-join candidates, and the exact Hamming filter — the REAL PNG
    // round-trip on the Spark side must land on identical pairs
    "media_phash_dedup" ->
      s"""WITH ${bytesSql(PhashBase, PngW * PngH)},
         |pix AS (
         |  SELECT base.media_id + v.v * $PhashBase AS media_id, base.i,
         |         CASE WHEN v.v = 1 AND base.i % 97 = 0 THEN 255 - base.b
         |              ELSE base.b END AS px
         |  FROM bytes base CROSS JOIN range(0, 2) v(v)
         |), blocks AS (
         |  SELECT media_id,
         |         ((i // $PngW) // 6) * 8 + (i % $PngW) // 8 AS blk,
         |         CAST(sum(px) AS BIGINT) AS bs
         |  FROM pix GROUP BY 1, 2
         |), tot AS (
         |  SELECT media_id, CAST(sum(px) AS BIGINT) AS ts FROM pix GROUP BY 1
         |), bits AS (
         |  SELECT b.media_id, b.blk,
         |         CASE WHEN 64 * b.bs > t.ts THEN 1 ELSE 0 END AS bit
         |  FROM blocks b JOIN tot t USING (media_id)
         |), bands AS (
         |  SELECT media_id, CAST(blk // $PhashBandBits AS INT) AS band,
         |         CAST(sum(bit * CAST(pow(2, $PhashBandBits - 1 - blk % $PhashBandBits) AS BIGINT)) AS BIGINT) AS bkey
         |  FROM bits GROUP BY 1, 2
         |), cand AS (
         |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.media_id < b.media_id
         |), ham AS (
         |  SELECT c.ma, c.mb,
         |         CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN bits ba ON ba.media_id = c.ma
         |  JOIN bits bb ON bb.media_id = c.mb AND bb.blk = ba.blk
         |  GROUP BY 1, 2
         |)
         |SELECT ma AS media_a, mb AS media_b, hamming
         |FROM ham WHERE hamming <= $PhashHamMax ORDER BY 1, 2""".stripMargin,
    // the real-codec audio query: 8-bit unsigned PCM WAV is lossless, so the
    // decoded sample stream must equal the LCG closed form byte-for-byte
    "media_wav_features" ->
      s"""WITH ${bytesSql(WavN, WavSamples)},
         |features AS (
         |  SELECT media_id, 'audio' AS kind, CAST($WavSamples AS INT) AS n_bytes,
         |         CAST(sum(b) AS DOUBLE) / $WavSamples.0e0 AS mean_byte,
         |         CAST(max(b) AS INT) AS max_byte,
         |         CAST(sum((i + 1) * b) AS BIGINT) AS checksum
         |  FROM bytes GROUP BY 1, 2
         |)
         |SELECT * FROM features ORDER BY media_id""".stripMargin,
    // real multi-frame container: gray-palette GIF round-trips losslessly,
    // so per-frame stats must equal the closed-form LCG stream per frame
    "media_gif_frames" ->
      s"""WITH ${bytesSql(GifN, GifFrames * GifW * GifH)},
         |pf AS (
         |  SELECT media_id, CAST(i // ${GifW * GifH} AS INT) AS frame_id,
         |         i % ${GifW * GifH} AS j, b
         |  FROM bytes
         |)
         |SELECT media_id, frame_id, CAST(${GifW * GifH} AS INT) AS n_pixels,
         |       CAST(sum(b) AS DOUBLE) / ${GifW * GifH}.0e0 AS mean_px,
         |       CAST(max(b) AS INT) AS max_px,
         |       CAST(sum((j + 1) * b) AS BIGINT) AS checksum
         |FROM pf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "media_wav_frames" ->
      s"""WITH ${bytesSql(WavN, WavSamples)},
         |lagged AS (
         |  SELECT media_id, CAST(i // $WavFrameLen AS INT) AS frame_id, b,
         |         lag(b) OVER (PARTITION BY media_id, i // $WavFrameLen ORDER BY i) AS pb
         |  FROM bytes
         |)
         |SELECT media_id, frame_id, CAST($WavFrameLen AS INT) AS n_samples,
         |       CAST(sum((b - 128) * (b - 128)) AS BIGINT) AS energy,
         |       CAST(sum(CASE WHEN pb IS NOT NULL AND ((b >= 128) <> (pb >= 128))
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS zcr
         |FROM lagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the real-codec query: the PNG writer/reader round-trip is lossless, so
    // the decoded pixel stream must equal the LCG closed form byte-for-byte
    "media_png_features" ->
      s"""WITH ${bytesSql(PngN, PngW * PngH)},
         |features AS (
         |  SELECT media_id, 'image' AS kind, CAST(${PngW * PngH} AS INT) AS n_bytes,
         |         CAST(sum(b) AS DOUBLE) / ${PngW * PngH}.0e0 AS mean_byte,
         |         CAST(max(b) AS INT) AS max_byte,
         |         CAST(sum((i + 1) * b) AS BIGINT) AS checksum
         |  FROM bytes GROUP BY 1, 2
         |)
         |SELECT * FROM features ORDER BY media_id""".stripMargin,
    "media_kind_stats" -> (featuresSql(64, 4096) +
      s""" SELECT kind, count(*) AS n_media, ${sqlR6("avg(mean_byte)")} AS avg_mean_byte,
         |        CAST(max(max_byte) AS INT) AS max_byte
         | FROM features GROUP BY kind ORDER BY kind""".stripMargin),
    "media_frame_sample" ->
      s"""WITH ${bytesSql(64, 4096)},
         |frames AS (
         |  SELECT media_id, CAST(floor(i / 1024) AS INT) AS frame_id,
         |         CAST(1024 AS INT) AS frame_bytes,
         |         CAST(sum(b) AS DOUBLE) / 1024.0e0 AS frame_mean
         |  FROM bytes
         |  WHERE media_id % 3 = 2
         |  GROUP BY 1, 2
         |)
         |SELECT * FROM frames WHERE frame_id % 4 = 0 ORDER BY media_id, frame_id""".stripMargin
  )
}
