package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support (driver north star §2b): media payloads travel
  * as opaque `binary` columns plus typed metadata, and all per-item media
  * work (decode, feature-extract, resize, frame-sample) runs batched inside
  * `mapPartitions` so a 100 TB corpus streams through executors without
  * driver involvement and with one decoder context per partition (the Scala
  * analog of a Pandas-batched UDF).
  *
  * Decoding sits behind [[MediaDecoder]]; every operator defaults to
  * [[Codecs.JvmDecoder]], which parses REAL containers (BMP, PPM/PPM-stream,
  * WAV — pure JVM, no native deps) and fails a malformed blob with a named
  * [[Codecs.MediaDecodeException]]. The trait is the seam a spec uses to
  * substitute its own decoder.
  */
object Multimodal {

  /** Typed metadata carried alongside every media blob. */
  final case class MediaMeta(
      media_id: Long,
      format: String,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Decoded representation: row-major luma-like samples per frame. */
  final case class Decoded(width: Int, height: Int, frames: Array[Array[Float]])

  /** The pluggable decode boundary — implement per real codec. */
  trait MediaDecoder extends Serializable {
    def sniffFormat(bytes: Array[Byte]): String
    def decode(bytes: Array[Byte]): Decoded

    /** Decode with the format already sniffed — callers that need BOTH the
      * format and the decode ([[withMeta]], the WAV lanes) sniff once and
      * pass it here instead of paying a second magic parse per row. Default
      * delegates; real decoders override to dispatch on `format` directly.
      */
    def decode(bytes: Array[Byte], format: String): Decoded = decode(bytes)
  }

  /** Attach typed metadata to (media_id, payload) rows — one decoder per
    * partition, batched row iteration, no driver round trips.
    */
  def withMeta(
      spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val fmt = decoder.sniffFormat(bytes)
          val d = decoder.decode(bytes, fmt)
          MediaMeta(id, fmt, bytes.length.toLong,
            d.width, d.height, d.frames.length)
        }
      }
  }

  final case class MediaFeatures(media_id: Long, embedding: Array[Float])

  /** Decode + pool each item into a fixed-dim feature vector (mean-pooled
    * sample blocks, L2-normalized) — the shape a real vision/audio encoder
    * would produce, ready for [[NearDup.knnBruteForce]] /
    * [[NearDup.embeddingNearDupLsh]] downstream.
    */
  def extractFeatures(
      spark: SparkSession, media: DataFrame, dim: Int = 16,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val d = decoder.decode(bytes)
          val flat = d.frames.flatten
          val feat = Array.tabulate(dim) { k =>
            var s = 0.0f
            var i = k
            while (i < flat.length) { s += flat(i); i += dim }
            s
          }
          val norm = math.sqrt(feat.foldLeft(0.0)((a, v) => a + v.toDouble * v)).toFloat
          MediaFeatures(id, if (norm == 0f) feat else feat.map(_ / norm))
        }
      }
  }

  /** A sampled frame resized to a fixed target grid — the
    * batch-normalization stage every vision pipeline runs before model
    * input. Nearest-neighbor (sample (tx, ty) reads source pixel
    * (⌊tx·w/tw⌋, ⌊ty·h/th⌋)) — integer arithmetic, bit-deterministic on
    * any partitioning, so the landed samples can be digest-gated.
    *
    * Field convention: `src_width`/`src_height` are the SOURCE frame's
    * dimensions (provenance metadata — what the resize read from);
    * `samples` is the tw × th TARGET grid in row-major order, so
    * `samples.length` is the target area, never src_width · src_height.
    */
  final case class ResizedFrame(
      media_id: Long, frame_idx: Int, src_width: Int, src_height: Int,
      samples: Array[Float])

  /** Frame-sample every `stride`-th frame, then resize each kept frame to
    * tw × th — fused in ONE mapPartitions pass so the decode runs once per
    * item (decode → sample → resize is the canonical preprocessing chain;
    * running the stages as separate operators would re-decode per stage).
    */
  def sampleAndResize(
      spark: SparkSession, media: DataFrame, stride: Int, tw: Int, th: Int,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[ResizedFrame] = {
    require(stride >= 1 && tw >= 1 && th >= 1,
      s"need stride/tw/th >= 1, got $stride/$tw/$th")
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val d = decoder.decode(bytes)
          d.frames.indices.by(stride).map { fi =>
            val f = d.frames(fi)
            val out = new Array[Float](tw * th)
            var ty = 0
            while (ty < th) {
              val sy = ty * d.height / th
              var tx = 0
              while (tx < tw) {
                val sx = tx * d.width / tw
                out(ty * tw + tx) = f(sy * d.width + sx)
                tx += 1
              }
              ty += 1
            }
            ResizedFrame(id, fi, d.width, d.height, out) // src dims; grid is tw×th
          }
        }
      }
  }

  final case class MediaPHash(media_id: Long, dhash: Long)

  /** Perceptual image hash (dHash) per media item — the standard
    * near-duplicate IMAGE dedup signature: decode, take frame 0,
    * nearest-neighbor resize to a 9×8 luma grid (one extra column so each
    * of the 64 output cells has a right-hand neighbor), then one bit per
    * cell = sign of the horizontal gradient (left < right), packed
    * row-major MSB-first into a single Long. Robust to re-encoding,
    * uniform brightness shifts, and small resizes (the gradient ORDER
    * survives them); a crop or recolor flips few bits, so near-copies
    * land within a small Hamming radius while unrelated images sit near
    * 32. The resize is the bit-deterministic integer arithmetic of
    * [[sampleAndResize]], so the hash is reproducible on any
    * partitioning and a landed hash table can be oracle-replayed.
    *
    * One decode per item inside `mapPartitions` — the hash is 8 bytes per
    * image, so the 100 TB image corpus reduces to a hash table the
    * Hamming pair join ([[NearDup.hammingPairs64]]) blocks on; no decoded
    * pixels ever shuffle.
    */
  /** The 9×8-grid gradient-sign hash of one frame — shared by [[dhashes]]
    * (frame 0 per item) and [[frameDhashes]] (every frame).
    */
  private def dhashFrame(f: Array[Float], width: Int, height: Int): Long = {
    val (tw, th) = (9, 8)
    val grid = new Array[Float](tw * th)
    var ty = 0
    while (ty < th) {
      val sy = ty * height / th
      var tx = 0
      while (tx < tw) {
        grid(ty * tw + tx) = f(sy * width + tx * width / tw)
        tx += 1
      }
      ty += 1
    }
    var h = 0L
    var i = 0
    while (i < 64) {
      val (gy, gx) = (i / 8, i % 8)
      h = (h << 1) | (if (grid(gy * tw + gx) < grid(gy * tw + gx + 1)) 1L else 0L)
      i += 1
    }
    h
  }

  def dhashes(
      spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[MediaPHash] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val d = decoder.decode(bytes)
          MediaPHash(id, dhashFrame(d.frames(0), d.width, d.height))
        }
      }
  }

  final case class FrameHash(media_id: Long, frame_idx: Int, dhash: Long)

  /** [[dhashes]] over EVERY frame — the video lane's signature: a clip
    * reduces to its per-frame dHash sequence (8 bytes per frame) in one
    * decode inside mapPartitions; downstream, video near-dup is
    * set-overlap on these hashes ([[NearDup.setOverlapDedupClusters]]),
    * so re-ordered, trimmed or re-encoded cuts of the same material
    * still share most of their frame-hash set. Non-multi-frame media
    * pass through with their single frame (frame_idx 0).
    */
  def frameDhashes(
      spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[FrameHash] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val d = decoder.decode(bytes)
          Iterator.tabulate(d.frames.length)(fi =>
            FrameHash(id, fi, dhashFrame(d.frames(fi), d.width, d.height)))
        }
      }
  }

  final case class AudioSample(media_id: Long, idx: Int, sample: Int)

  final case class AudioFrameFeatures(
      media_id: Long, frame_idx: Int, frame_len: Int, zero_crossings: Int,
      energy: Long)

  /** Centered 16-bit PCM value recovered EXACTLY from the decoder's [0,1]
    * float: the /65535 normalization is invertible in float32 for 16-bit
    * inputs (|round(f·65535) − (s+32768)| < 2⁻⁷ by the two-rounding error
    * bound), so downstream feature math runs on exact integers, not
    * accumulated float error.
    */
  private def centeredPcm(f: Float): Int = math.round(f * 65535f) - 32768

  /** Decoded PCM samples of every WAV payload, one row per sample — the
    * ORACLE-FIXTURE lane for [[audioFrameFeatures]] (q288 lands these so
    * DuckDB can recompute framing/ZCR/energy independently). Production
    * never materializes per-sample rows; the feature pass below keeps the
    * sample array inside one mapPartitions closure.
    */
  def audioSamples(
      spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[AudioSample] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          if (decoder.sniffFormat(bytes) != "wav") Iterator.empty
          else {
            val f = decoder.decode(bytes, "wav").frames(0)
            Iterator.tabulate(f.length)(i => AudioSample(id, i, centeredPcm(f(i))))
          }
        }
      }
  }

  /** Per-frame audio features over WAV payloads — the audio lane's
    * featurizer (what [[dhashes]] is for images): one decode per item
    * inside `mapPartitions`, then non-overlapping `frameLen`-sample frames
    * (last frame partial), each emitting its length, zero-crossing count
    * (sign changes between consecutive in-frame samples, zero counting as
    * non-negative) and energy Σc² on exact centered ints. At 100 TB the
    * shuffle carries only ~n/frameLen feature rows per item — decoded
    * samples never leave the executor closure, and the integer feature
    * math is deterministic on any partitioning.
    */
  def audioFrameFeatures(
      spark: SparkSession, media: DataFrame, frameLen: Int = 32,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[AudioFrameFeatures] = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          if (decoder.sniffFormat(bytes) != "wav") Iterator.empty
          else {
            val f = decoder.decode(bytes, "wav").frames(0)
            val n = f.length
            Iterator.tabulate((n + frameLen - 1) / frameLen) { fi =>
              val lo = fi * frameLen
              val hi = math.min(lo + frameLen, n)
              var zc = 0
              var e = 0L
              var prevNeg = false
              var i = lo
              while (i < hi) {
                val c = centeredPcm(f(i))
                val neg = c < 0
                if (i > lo && neg != prevNeg) zc += 1
                prevNeg = neg
                e += c.toLong * c
                i += 1
              }
              AudioFrameFeatures(id, fi, hi - lo, zc, e)
            }
          }
        }
      }
  }

  final case class AudioFingerprint(media_id: Long, sig: Long)

  /** 64-bit perceptual audio fingerprint — [[dhashes]] for waveforms: the
    * WAV's centered PCM samples are nearest-neighbor resampled to 65
    * points (the 9×8-grid idiom in 1-D, one extra point so every output
    * bit has a right-hand neighbor) and each bit is the sign of the step
    * between consecutive resampled values, packed MSB-first into one
    * Long. Duration changes are absorbed by the resample and level shifts
    * by differencing, so re-encoded/padded near-copies land within a small
    * Hamming radius; 8 bytes per item means the 100 TB audio corpus
    * reduces to a signature table before anything shuffles — near-dup
    * audio then rides the exact image-dedup path
    * ([[NearDup.hammingPairs64]] blocking + XOR/popcount verify).
    */
  def audioFingerprints(
      spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder = Codecs.JvmDecoder): Dataset[AudioFingerprint] = {
    import spark.implicits._
    media.select(col("media_id").as[Long], col("payload").as[Array[Byte]])
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          if (decoder.sniffFormat(bytes) != "wav") Iterator.empty
          else {
            val f = decoder.decode(bytes, "wav").frames(0)
            val n = f.length
            val pts = Array.tabulate(65)(i => centeredPcm(f(i * n / 65)))
            var h = 0L
            var i = 0
            while (i < 64) {
              h = (h << 1) | (if (pts(i) < pts(i + 1)) 1L else 0L)
              i += 1
            }
            Iterator.single(AudioFingerprint(id, h))
          }
        }
      }
  }

  /** REAL media containers deterministically synthesized from `documents`:
    * doc_id mod 3 picks BMP (single image) / WAV (PCM16 mono) / PPM P6
    * stream (multi-frame "video"), geometry derived from the text's UTF-8
    * byte length, payload bytes cycled from the text bytes. These parse
    * under [[Codecs.JvmDecoder]] as genuine format decodes, and the
    * generative geometry formulas are simple enough for a SQL oracle to
    * replay (q30).
    */
  def encodedMediaFromDocuments(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").as[Long], col("text").as[String])
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val len = tb.length
          def cyc(i: Int): Byte = if (len == 0) (i & 0xFF).toByte else tb(i % len)
          val w = 4 + len % 5
          val h = 4 + len % 3
          val payload = (id % 3) match {
            case 0 =>
              Codecs.encodeBmp(w, h, Array.tabulate(w * h * 3)(cyc))
            case 1 =>
              val n = 16 + len % 100
              Codecs.encodeWav(Array.tabulate(n)(j =>
                ((cyc(2 * j) & 0xFF) | ((cyc(2 * j + 1) & 0xFF) << 8)).toShort))
            case _ =>
              val f = 1 + len % 4
              Codecs.encodePpmStream(w, h,
                (0 until f).map(k => Array.tabulate(w * h * 3)(i => cyc(k * 31 + i))))
          }
          (id, payload)
        }
      }.toDF("media_id", "payload")
  }
}
