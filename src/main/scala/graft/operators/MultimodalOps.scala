package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column operators for training-data
  * pipelines (SURVEY.md §7 step 10). Media payloads are opaque `binary`
  * columns with a typed metadata struct; decode/feature-extraction runs
  * per-partition in bounded batches.
  *
  * Codecs: BMP images ([[graft.sources.Bmp]]), WAV audio
  * ([[graft.sources.Wav]]) and AVI video ([[graft.sources.Avi]]) decode
  * for REAL — pure-JVM from the public specs, driver-gated by the
  * q52/q53/q54 oracles. Other formats (compressed codecs) are
  * STUBBED (this container ships no media libraries): [[StubDecoder]]
  * produces a deterministic fake decode from the byte content. Everything
  * around the stub — schema, batch shape, partitioning, the operator
  * plumbing — is real and tested; swapping a stub for a codec is a
  * one-function change, exactly as done for BMP.
  */
/** Output row of [[MultimodalOps.extractImageFeatures]]. Top-level (not
  * nested in the object) so the generated encoder code compiles under
  * Janino — object-nested case classes fall back to interpreted mode. */
case class MediaFeatureRow(
    media_id: Long, mean_intensity: Double, histogram: Array[Long])

/** Output row of [[MultimodalOps.extractAudioFeatures]] (one per window). */
case class AudioFeatureRow(
    media_id: Long, window: Int, rms: Double, zero_crossing_rate: Double)

/** Output row of [[MultimodalOps.imageStats]] (one per non-empty bin);
  * all-integer so oracles replay it exactly. */
case class ImageStatsRow(
    media_id: Long, bin: Int, bin_count: Long, n_px: Long, sum_gray: Long)

/** Output row of [[MultimodalOps.imageDHash]] — a 64-bit perceptual key. */
case class DHashRow(media_id: Long, dhash: Long)

/** Output row of [[MultimodalOps.audioFingerprint]]. */
case class AudioFpRow(media_id: Long, afp: Long)

/** Output row of [[MultimodalOps.videoDHash]]. */
case class VideoDHashRow(media_id: Long, vdhash: Long)

/** Output row of [[MultimodalOps.audioStats]] (one per full window);
  * all-integer so oracles replay it exactly. */
case class AudioStatsRow(
    media_id: Long, window: Int, sum_abs: Long, zero_crossings: Long,
    n_samples: Long)

/** Output row of [[MultimodalOps.videoStats]] (one per frame);
  * all-integer so oracles replay it exactly. `motion_abs` is the summed
  * absolute gray delta vs the previous frame (0 for frame 0), so a
  * frame-ordering bug in the container walk shifts it detectably. */
case class VideoStatsRow(
    media_id: Long, frame: Int, n_px: Long, sum_gray: Long, motion_abs: Long)

object MultimodalOps {

  /** Typed metadata carried with each media payload. */
  val mediaMetaSchema: StructType = new StructType()
    .add("mediaType", StringType)   // image/png, audio/wav, ...
    .add("width", IntegerType)
    .add("height", IntegerType)
    .add("sampleRateHz", IntegerType)
    .add("durationMs", LongType)

  val mediaSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("payload", BinaryType)
    .add("meta", mediaMetaSchema)

  /** Deterministic fake decode: "pixels" derived from payload bytes. Stands
    * in for a real image decoder; deterministic so tests can assert. */
  object StubDecoder {
    /** Deterministic fake PCM decode: signed bytes → [-1,1) samples. */
    def decodePcm(payload: Array[Byte]): Array[Float] = {
      if (payload == null) return Array.empty
      val out = new Array[Float](payload.length)
      var i = 0
      while (i < out.length) { out(i) = payload(i) / 128.0f; i += 1 }
      out
    }

    def decodeGray8(payload: Array[Byte], w: Int, h: Int): Array[Float] = {
      val out = new Array[Float](w * h)
      var i = 0
      while (i < out.length) {
        val b = if (payload.isEmpty) 0 else payload(i % payload.length) & 0xff
        out(i) = b / 255.0f
        i += 1
      }
      out
    }
  }

  /** Wrap raw payload rows into the standard media schema.
    * fanOut: every downstream decode (BMP/WAV/AVI, feature extraction)
    * is a compute-heavy narrow stage; an under-parallel payload scan
    * must not serialize it (no-op at real scale — see
    * [[Parallelism.fanOut]]). */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String, width: Int, height: Int): DataFrame =
    Parallelism.fanOut(df, col(idCol)).select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        lit(mediaType).as("mediaType"),
        lit(width).as("width"), lit(height).as("height"),
        lit(null).cast("int").as("sampleRateHz"),
        lit(null).cast("long").as("durationMs")).as("meta"))

  /** Decode + feature-extract, batched per partition (the Scala analog of a
    * `mapInPandas` batch UDF: one partition = a bounded iterator of rows,
    * codec state amortized across the batch). Output: per-media mean
    * intensity + 16-bin histogram.
    *
    * BMP payloads ('BM' magic) take the REAL [[graft.sources.Bmp]] decoder
    * (24-bit / 8-bit BI_RGB, pure JVM, from the public spec); other
    * formats still go through [[StubDecoder]] (no media libraries in this
    * container). */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[MediaFeatureRow] =
      Encoders.product[MediaFeatureRow]
    val ds = media.select("media_id", "payload", "meta.width", "meta.height")
      .mapPartitions { rows: Iterator[Row] =>
        // per-partition "codec" init happens here, once per batch
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val px: Array[Float] =
            if (graft.sources.Bmp.isBmp(payload)) {
              val img = graft.sources.Bmp.decode(payload)
              img.gray.map(_ / 255.0f)
            } else {
              val w = Option(r.get(2)).map(_.asInstanceOf[Int]).getOrElse(8)
              val h = Option(r.get(3)).map(_.asInstanceOf[Int]).getOrElse(8)
              StubDecoder.decodeGray8(payload, w, h)
            }
          val hist = new Array[Long](16)
          var s = 0.0
          px.foreach { p =>
            s += p
            hist(math.min(15, (p * 16).toInt)) += 1
          }
          MediaFeatureRow(id, if (px.isEmpty) 0.0 else s / px.length, hist)
        }
      }(enc)
    ds.toDF()
  }

  /** Integer-exact per-image statistics from REAL BMP decode: one row per
    * non-empty 16-wide gray bin — (media_id, bin, bin_count, n_px,
    * sum_gray), all integers, so an external oracle can replay the math
    * bit-exactly. bin = gray / 16 over the decoder's integer luma. */
  def imageStats(media: DataFrame): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[ImageStatsRow] =
      Encoders.product[ImageStatsRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val img = graft.sources.Bmp.decode(r.getAs[Array[Byte]](1))
          val hist = new Array[Long](16)
          var sum = 0L
          img.gray.foreach { g => sum += g; hist(g / 16) += 1 }
          (0 until 16).iterator.filter(hist(_) > 0).map(b =>
            ImageStatsRow(id, b, hist(b), img.gray.length.toLong, sum))
        }
      }(enc).toDF()
  }

  /** Integer-exact per-window statistics from REAL WAV decode: one row per
    * full window of `windowSamples` samples (hop == window, so windows
    * tile) — (media_id, window, sum_abs, zero_crossings, n_samples), all
    * integers, so an external oracle can replay the math bit-exactly.
    * zero_crossings counts sign boundaries WITHIN the window using the
    * same (s >= 0) convention as [[extractAudioFeatures]]. */
  def audioStats(media: DataFrame, windowSamples: Int = 256): DataFrame = {
    require(windowSamples > 0)
    implicit val enc: org.apache.spark.sql.Encoder[AudioStatsRow] =
      Encoders.product[AudioStatsRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val audio = graft.sources.Wav.decode(r.getAs[Array[Byte]](1))
          val s = audio.samples
          val nWin = s.length / windowSamples
          (0 until nWin).iterator.map { w =>
            val off = w * windowSamples
            var sumAbs = 0L
            var zc = 0L
            var i = 0
            while (i < windowSamples) {
              val v = s(off + i)
              sumAbs += math.abs(v)
              if (i > 0 && (v >= 0) != (s(off + i - 1) >= 0)) zc += 1
              i += 1
            }
            AudioStatsRow(id, w, sumAbs, zc, s.length.toLong)
          }
        }
      }.toDF()
  }

  /** Thumbnail/resize stub: nearest-neighbor down-sample of the fake decode,
    * re-encoded as binary — demonstrates payload→payload transforms keeping
    * the media schema. */
  def resize(media: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = media.sparkSession
    val outSchema = mediaSchema
    val rddOut = media.select("media_id", "payload", "meta").rdd
      .map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val meta = r.getStruct(2)
        val w = Option(meta.get(1)).map(_.asInstanceOf[Int]).getOrElse(8)
        val h = Option(meta.get(2)).map(_.asInstanceOf[Int]).getOrElse(8)
        val px = StubDecoder.decodeGray8(payload, w, h)
        val out = new Array[Byte](newW * newH)
        var y = 0
        while (y < newH) {
          var x = 0
          while (x < newW) {
            val sx = x * w / newW; val sy = y * h / newH
            out(y * newW + x) = (px(sy * w + sx) * 255).toByte
            x += 1
          }
          y += 1
        }
        Row(id, out, Row(meta.getString(0), newW, newH, null, null))
      }
    spark.createDataFrame(rddOut, outSchema)
  }

  /** Frame sampling for video payloads. AVI payloads (RIFF 'AVI ' magic)
    * decode for REAL via [[graft.sources.Avi]]: `n` evenly spaced frames
    * are re-emitted as row-major grayscale bytes (all frames when the
    * video has fewer than `n`). Other payloads keep the stub chunk split
    * (the partition/batch plumbing with the codec faked). */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    require(n > 0)
    val aviFrames = udf { payload: Array[Byte] =>
      if (graft.sources.Avi.isAvi(payload)) {
        val v = graft.sources.Avi.decode(payload)
        val total = v.frames.length
        val idxs =
          if (total <= n) 0 until total
          else (0 until n).map(i => (i.toLong * total / n).toInt)
        idxs.map(i => v.frames(i).map(_.toByte)).toArray
      } else null
    }
    media.select(col("media_id"),
      posexplode(coalesce(
        aviFrames(col("payload")), split_part_bytes(col("payload"), n)))
        .as(Seq("frame_idx", "frame")))
  }

  /** Integer-exact per-frame statistics from REAL AVI decode: one row per
    * frame — (media_id, frame, n_px, sum_gray, motion_abs), all integers,
    * so an external oracle can replay the math bit-exactly. */
  def videoStats(media: DataFrame): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[VideoStatsRow] =
      Encoders.product[VideoStatsRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val v = graft.sources.Avi.decode(r.getAs[Array[Byte]](1))
          val nPx = (v.width.toLong * v.height)
          v.frames.iterator.zipWithIndex.map { case (g, f) =>
            var sum = 0L; var motion = 0L
            var i = 0
            while (i < g.length) {
              sum += g(i)
              if (f > 0) motion += math.abs(g(i) - v.frames(f - 1)(i))
              i += 1
            }
            VideoStatsRow(id, f, nPx, sum, motion)
          }
        }
      }.toDF()
  }

  /** Audio decode + windowed feature extraction, batched per partition.
    * WAV payloads (RIFF magic) take the REAL [[graft.sources.Wav]] decoder
    * (PCM 8/16-bit, multi-channel averaged to mono, pure JVM from the
    * public spec); other formats go through the [[StubDecoder]] fake
    * (payload bytes → [-1,1] samples). Per-window RMS energy and
    * zero-crossing rate, window/hop framing, output schema — the operator
    * shape a production audio featurizer (mapInPandas over
    * librosa/torchaudio batches) plugs into. One output row per
    * (media_id, window). */
  def extractAudioFeatures(
      media: DataFrame, windowSamples: Int = 256, hopSamples: Int = 128): DataFrame = {
    require(windowSamples > 0 && hopSamples > 0)
    implicit val enc: org.apache.spark.sql.Encoder[AudioFeatureRow] =
      Encoders.product[AudioFeatureRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        // per-partition codec init happens here, once per batch
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val pcm =
            if (graft.sources.Wav.isWav(payload))
              graft.sources.Wav.decode(payload).samples.map(_ / 32768.0f)
            else StubDecoder.decodePcm(payload)
          val nWin =
            if (pcm.length < windowSamples) 0
            else (pcm.length - windowSamples) / hopSamples + 1
          (0 until nWin).iterator.map { w =>
            val off = w * hopSamples
            var sumSq = 0.0
            var crossings = 0
            var i = 0
            while (i < windowSamples) {
              val s = pcm(off + i)
              sumSq += s.toDouble * s.toDouble
              if (i > 0 && (s >= 0f) != (pcm(off + i - 1) >= 0f)) crossings += 1
              i += 1
            }
            AudioFeatureRow(id, w,
              math.sqrt(sumSq / windowSamples),
              crossings.toDouble / (windowSamples - 1))
          }
        }
      }.toDF()
  }

  /** Difference hash (dHash) of one decoded grayscale image: box-average
    * the pixels onto a `gridW` x `gridH` grid (integer box sums, floor
    * division — pixel (r,c) belongs to box (r*gridH/h, c*gridW/w)), then
    * one bit per horizontally adjacent cell pair: bit = left > right,
    * packed row-major into a 64-bit value. Pure integer arithmetic so an
    * external oracle replays it exactly; brightness shifts cancel (both
    * sides of every comparison move together) — the property that makes
    * dHash a perceptual near-dup key rather than an exact checksum. */
  def dhashOf(w: Int, h: Int, gray: Array[Int],
      gridW: Int = 9, gridH: Int = 8): Long = {
    val sums = Array.ofDim[Long](gridH, gridW)
    val counts = Array.ofDim[Long](gridH, gridW)
    var i = 0
    while (i < gray.length) {
      val br = (i / w) * gridH / h
      val bc = (i % w) * gridW / w
      sums(br)(bc) += gray(i)
      counts(br)(bc) += 1
      i += 1
    }
    var hash = 0L
    var r = 0
    while (r < gridH) {
      var c = 0
      while (c < gridW - 1) {
        val a = if (counts(r)(c) == 0) 0L else sums(r)(c) / counts(r)(c)
        val b = if (counts(r)(c + 1) == 0) 0L else sums(r)(c + 1) / counts(r)(c + 1)
        if (a > b) hash |= 1L << (r * (gridW - 1) + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Per-image perceptual hash table (media_id, dhash) from REAL BMP
    * decode — the persistable index for image near-dup at corpus scale
    * (embarrassingly parallel; one shuffle nowhere). */
  def imageDHash(media: DataFrame): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[DHashRow] =
      Encoders.product[DHashRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val img = graft.sources.Bmp.decode(r.getAs[Array[Byte]](1))
          DHashRow(r.getLong(0), dhashOf(img.width, img.height, img.gray))
        }
      }.toDF()
  }

  /** Near-duplicate pairs by Hamming distance over any 64-bit perceptual
    * hash table (`idCol`, `hashCol`): the hash is split into `bands`
    * equal bit-bands; candidates must share at least one band
    * (pigeonhole: complete for maxDist < bands), then verified with an
    * exact popcount — never an all-pairs comparison, so the shuffle is
    * keyed by (band, value) buckets exactly like the MinHash family.
    * Shared by the image-dHash and audio-fingerprint dedup paths. */
  private[graft] def hammingNearDuplicates(
      hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, bands: Int): DataFrame = {
    require(maxDist < bands, "pigeonhole recall needs maxDist < bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val h = hashes.select(col(idCol).as("media_id"), col(hashCol).as("h"))
      .persist()
    val banded = h.select(col("media_id"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("h"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bval")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    cand
      .join(h.select(col("media_id").as("id_a"), col("h").as("ha")), "id_a")
      .join(h.select(col("media_id").as("id_b"), col("h").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Image near-duplicate pairs (id_a, id_b, dist <= maxDist) — banded
    * Hamming over [[imageDHash]]. */
  def imageNearDuplicates(
      media: DataFrame, maxDist: Int = 3, bands: Int = 4): DataFrame =
    hammingNearDuplicates(imageDHash(media), "media_id", "dhash",
      maxDist, bands)

  /** Probe a PERSISTED perceptual-hash index (any (id, hash64) table —
    * [[imageDHash]] / [[audioFingerprint]] / [[videoDHash]] output, e.g.
    * loaded from parquet) with a batch of probe hashes: emits
    * (probe_id, corpus_id, dist <= maxDist). The index-once/probe-many
    * shape of the MinHash family for the multimodal keys: the corpus is
    * hashed exactly once, each incoming batch only hashes itself and
    * joins on (band, value) buckets. */
  def hammingNearDuplicatesAgainst(
      index: DataFrame, probes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(maxDist < bands, "pigeonhole recall needs maxDist < bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    def withBands(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), col(hashCol).as(s"h_$side"))
        .select(col(s"${side}_id"), col(s"h_$side"),
          posexplode(array((0 until bands).map(b =>
            shiftrightunsigned(col(s"h_$side"), b * width)
              .bitwiseAND(lit(mask))): _*))
            .as(Seq("band", "bval")))
    withBands(probes, "probe")
      .join(withBands(index, "corpus"), Seq("band", "bval"))
      .select(col("probe_id"), col("corpus_id"),
        bit_count(col("h_probe").bitwiseXOR(col("h_corpus")))
          .cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Volume-invariant audio fingerprint of decoded PCM samples: box the
    * samples onto `windows` equal spans (sample i -> span i*windows/n,
    * truncating), sum |s| per span, then one bit per adjacent span pair:
    * bit = left energy > right energy. Uniform volume scaling multiplies
    * every span energy alike, so comparisons — and the fingerprint —
    * are unchanged; pure integer arithmetic, oracle-replayable. */
  def audioEnergyFingerprint(samples: Array[Int], windows: Int = 65): Long = {
    val e = new Array[Long](windows)
    val n = samples.length
    var i = 0
    while (i < n) {
      e((i.toLong * windows / n).toInt) += math.abs(samples(i))
      i += 1
    }
    var h = 0L
    var k = 0
    while (k < windows - 1) {
      if (e(k) > e(k + 1)) h |= 1L << k
      k += 1
    }
    h
  }

  /** Per-clip fingerprint table (media_id, afp) from REAL WAV decode —
    * the audio analog of [[imageDHash]] (embarrassingly parallel,
    * persistable index). */
  def audioFingerprint(media: DataFrame, windows: Int = 65): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[AudioFpRow] =
      Encoders.product[AudioFpRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val audio = graft.sources.Wav.decode(r.getAs[Array[Byte]](1))
          AudioFpRow(r.getLong(0),
            audioEnergyFingerprint(audio.samples, windows))
        }
      }.toDF()
  }

  /** Audio near-duplicate pairs (id_a, id_b, dist <= maxDist) — banded
    * Hamming over [[audioFingerprint]]; volume-shifted re-encodes land at
    * distance 0. */
  def audioNearDuplicates(
      media: DataFrame, maxDist: Int = 3, bands: Int = 4): DataFrame =
    hammingNearDuplicates(audioFingerprint(media), "media_id", "afp",
      maxDist, bands)

  /** Per-video perceptual hash (media_id, vdhash) from REAL AVI decode:
    * the dHash of the MIDDLE frame (index nFrames/2, truncating) — the
    * cheap-and-standard keyframe heuristic; brightness-shifted re-encodes
    * hash identically (dHash invariance). The full-video variant is
    * hashing every k-th frame with [[dhashOf]] and banding per frame;
    * the middle-frame key is what the dedup query gates. */
  def videoDHash(media: DataFrame): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[VideoDHashRow] =
      Encoders.product[VideoDHashRow]
    Parallelism.fanOut(media.select("media_id", "payload"),
      col("media_id")) // a 1-split scan would decode on one core
      .mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val v = graft.sources.Avi.decode(r.getAs[Array[Byte]](1))
          val mid = v.frames(v.frames.length / 2)
          VideoDHashRow(r.getLong(0), dhashOf(v.width, v.height, mid))
        }
      }.toDF()
  }

  /** Video near-duplicate pairs (id_a, id_b, dist <= maxDist) — banded
    * Hamming over [[videoDHash]]. */
  def videoNearDuplicates(
      media: DataFrame, maxDist: Int = 3, bands: Int = 4): DataFrame =
    hammingNearDuplicates(videoDHash(media), "media_id", "vdhash",
      maxDist, bands)

  /** Helper: split a binary column into n roughly equal slices. */
  private def split_part_bytes(payload: org.apache.spark.sql.Column, n: Int) = {
    val f = udf { (bytes: Array[Byte]) =>
      if (bytes == null || bytes.isEmpty) Seq.empty[Array[Byte]]
      else {
        val size = math.max(1, bytes.length / n)
        (0 until n).map { i =>
          val from = math.min(bytes.length, i * size)
          val to = if (i == n - 1) bytes.length else math.min(bytes.length, (i + 1) * size)
          java.util.Arrays.copyOfRange(bytes, from, to)
        }.filter(_.nonEmpty)
      }
    }
    f(payload)
  }
}
