package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema, determinism, batch shape, and the
  * partition-preserving property of the mapPartitions decode path.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // one item per container lane of encodedMediaFromDocuments (doc_id mod 3):
  // WAV (1, 4), a 3-frame PPM stream (2), BMP (3)
  private def media = Multimodal.encodedMediaFromDocuments(spark,
    Seq((1L, "abc"), (2L, "abcdef"), (3L, "abcde"), (4L, "x" * 100))
      .toDF("doc_id", "text"))

  test("withMeta derives format/geometry from bytes deterministically") {
    val meta = Multimodal.withMeta(spark, media).collect().map(m => m.media_id -> m).toMap
    assert(Multimodal.withMeta(spark, media.repartition(3)).collect()
      .map(m => m.media_id -> m).toMap === meta)
    assert(meta(1L).format === "wav" && meta(4L).format === "wav")
    assert(meta(2L).format === "ppm" && meta(3L).format === "bmp")
    // BMP: 54-byte header + 4-byte-aligned rows of 3·w bytes
    assert(meta(3L).byte_len === 54L + (3 * 4 + 3) / 4 * 4 * 6)
    assert(meta(3L).width === 4 + 5 % 5 && meta(3L).height === 4 + 5 % 3)
    assert(meta(2L).width === 4 + 6 % 5 && meta(2L).height === 4 + 6 % 3)
    assert(meta(1L).width === 16 + 3 % 100 && meta(1L).height === 1)
    assert(meta(2L).n_frames === 1 + 6 % 4 && meta(3L).n_frames === 1)
  }

  test("extractFeatures: fixed dim, L2-normalized, run-to-run identical") {
    val a = Multimodal.extractFeatures(spark, media, dim = 16).collect()
      .map(f => f.media_id -> f.embedding.toSeq).toMap
    val b = Multimodal.extractFeatures(spark, media, dim = 16).collect()
      .map(f => f.media_id -> f.embedding.toSeq).toMap
    assert(a === b)
    assert(a.size === 4)
    a.values.foreach { e =>
      assert(e.length === 16)
      val n = math.sqrt(e.map(v => v.toDouble * v).sum)
      assert(math.abs(n - 1.0) < 1e-5)
    }
  }

  test("decode path preserves partitioning (no shuffle in mapPartitions)") {
    val df = media.repartition(3)
    assert(Multimodal.extractFeatures(spark, df).rdd.getNumPartitions === 3)
  }

  // ----- real JVM codecs (Codecs.JvmDecoder) -----

  import graft.operators.Codecs

  test("BMP round trip: geometry and luma survive encode -> decode") {
    val rgb = Array.tabulate(5 * 4 * 3)(i => (i * 7 % 256).toByte)
    val d = Codecs.JvmDecoder.decode(Codecs.encodeBmp(5, 4, rgb))
    assert(d.width === 5 && d.height === 4 && d.frames.length === 1)
    // luma of pixel (0,0) = (r+g+b)/765 from the original top-down rgb
    val expected = ((rgb(0) & 0xFF) + (rgb(1) & 0xFF) + (rgb(2) & 0xFF)).toFloat / 765f
    assert(d.frames(0)(0) === expected)
  }

  test("PPM stream round trip: frame count and per-frame geometry") {
    val frames = (0 until 3).map(k => Array.tabulate(4 * 4 * 3)(i => (i + k).toByte))
    val d = Codecs.JvmDecoder.decode(Codecs.encodePpmStream(4, 4, frames))
    assert(d.width === 4 && d.height === 4 && d.frames.length === 3)
  }

  test("WAV round trip: sample count and normalized range") {
    val samples = Array.tabulate(40)(i => (i * 1000 - 20000).toShort)
    val d = Codecs.JvmDecoder.decode(Codecs.encodeWav(samples))
    assert(d.width === 40 && d.height === 1 && d.frames.length === 1)
    assert(d.frames(0).forall(v => v >= 0f && v <= 1f))
    assert(d.frames(0)(20) === (0 + 32768).toFloat / 65535f)
  }

  // The decoder's named MediaDecodeException is the error lane: a bad blob
  // fails with a message that says what is wrong, never with an NPE, a
  // NumberFormatException or a wrapped array size.
  private def assertDecodeFails(bytes: Array[Byte], msg: String): Unit = {
    val e = intercept[Codecs.MediaDecodeException](Codecs.JvmDecoder.decode(bytes))
    assert(e.getMessage.contains(msg), s"want '$msg' in: ${e.getMessage}")
  }

  test("withMetaQuarantine: malformed blobs land in the error lane, good rows decode") {
    val good = Codecs.encodeBmp(4, 4, Array.fill(4 * 4 * 3)(1.toByte))
    val d = Codecs.JvmDecoder.decode(good)
    assert(d.width === 4 && d.height === 4 && d.frames.length === 1)
    assertDecodeFails(good.take(30), "truncated") // valid magic, truncated header
    assertDecodeFails(Array[Byte](0x00, 0x01, 0x02, 0x03), "unrecognized")
  }

  test("crafted headers with overflow-scale dims quarantine instead of crashing") {
    // BMP with w chosen so w*3 wraps Int; PPM with an 11-digit dimension
    // token (would throw NumberFormatException pre-hardening) and one
    // whose fw*fh*3 wraps past the truncation guard
    val bmp = Codecs.encodeBmp(4, 4, Array.fill(4 * 4 * 3)(1.toByte))
    java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 715827883) // w: rowSize arithmetic would wrap in Int
    val ppmHuge = "P6\n99999999999 4\n255\n".getBytes ++ Array.fill(48)(1.toByte)
    val ppmWrap = "P6\n40000 40000\n255\n".getBytes ++ Array.fill(48)(1.toByte)
    // WAV whose data-chunk length wraps the Int bounds check negative
    val wavWrap = Codecs.encodeWav(Array.tabulate(4)(_.toShort))
    java.nio.ByteBuffer.wrap(wavWrap).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, 0x7FFFFFF0) // 'data' chunk len
    assertDecodeFails(bmp, "exceeds")
    assertDecodeFails(ppmHuge, "integer too large")
    assertDecodeFails(ppmWrap, "exceeds")
    assertDecodeFails(wavWrap, "truncated chunk")
  }

  test("withMeta on a corrupt blob fails the job by name: no partial result, no NPE") {
    val good = Codecs.encodeBmp(4, 4, Array.fill(4 * 4 * 3)(1.toByte))
    val garbage = Array[Byte](0x00, 0x01, 0x02, 0x03)
    val df = Seq((1L, good), (2L, garbage)).toDF("media_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.withMeta(spark, df).collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[Codecs.MediaDecodeException] &&
      c.getMessage.contains("unrecognized")), s"no named decode error in: $e")
    assert(!causes.exists(_.isInstanceOf[NullPointerException]))
  }

  test("encodedMediaFromDocuments: real containers parse under JvmDecoder, per doc_id mod 3") {
    val docs = Seq((0L, "abc"), (1L, "abcd"), (2L, "abcde"), (3L, ""), (4L, "y"), (5L, "zz"))
      .toDF("doc_id", "text")
    val enc = Multimodal.encodedMediaFromDocuments(spark, docs)
    // a payload that failed to decode would fail this job
    val meta = Multimodal.withMeta(spark, enc)
      .collect().map(m => m.media_id -> m).toMap
    assert(meta.size === 6)
    assert(meta(0L).format === "bmp" && meta(3L).format === "bmp")
    assert(meta(1L).format === "wav" && meta(4L).format === "wav")
    assert(meta(2L).format === "ppm" && meta(5L).format === "ppm")
    // geometry decoded from the real headers matches the generative formulas
    assert(meta(0L).width === 4 + 3 % 5 && meta(0L).height === 4 + 3 % 3)
    assert(meta(1L).width === 16 + 4 % 100 && meta(1L).height === 1)
    assert(meta(2L).n_frames === 1 + 5 % 4)
  }

  test("sampleAndResize: stride keeps every 2nd frame, nearest-neighbor grid exact") {
    // a known 4x2 3-frame "video": frame k holds pixel value k*100 + index
    object GridDecoder extends Multimodal.MediaDecoder {
      override def sniffFormat(bytes: Array[Byte]): String = "grid"
      override def decode(bytes: Array[Byte]): Multimodal.Decoded =
        Multimodal.Decoded(4, 2,
          Array.tabulate(3)(k => Array.tabulate(8)(i => (k * 100 + i).toFloat)))
    }
    val media = Seq((7L, Array[Byte](1))).toDF("media_id", "payload")
    val got = Multimodal.sampleAndResize(spark, media, stride = 2, tw = 8, th = 8,
        decoder = GridDecoder)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2)) // stride 2 over 3 frames
    assert(got.forall(r =>
      r.src_width === 4 && r.src_height === 2 && r.samples.length === 64))
    // nearest neighbor: out(ty,tx) = f(floor(ty*2/8)*4 + floor(tx*4/8))
    val f0 = got(0).samples
    for (ty <- 0 until 8; tx <- 0 until 8) {
      val expect = (ty * 2 / 8) * 4 + (tx * 4 / 8)
      assert(f0(ty * 8 + tx) === expect.toFloat,
        s"($tx,$ty): got ${f0(ty * 8 + tx)}, want $expect")
    }
    assert(got(1).samples(0) === 200f) // frame 2's first pixel
  }

  test("dhashes: known gradients hash exactly; near-copy within Hamming 3, reverse at 64") {
    // 9x8 BMPs, so the 9x8 resize grid is the identity: luma strictly
    // increasing left->right => every gradient bit 1 => dhash == -1L;
    // strictly decreasing => 0L; near-copy flips exactly the bits whose
    // grid cells the perturbed pixel touches
    def gradBmp(asc: Boolean, perturbX: Int = -1): Array[Byte] = {
      val rgb = Array.tabulate(9 * 8 * 3) { i =>
        val x = (i / 3) % 9
        val v = if (asc) x * 20 else (8 - x) * 20
        val bump = if ((i / 3) % 9 == perturbX && i / 3 / 9 == 0) 185 else 0
        ((v + bump) & 0xFF).toByte
      }
      Codecs.encodeBmp(9, 8, rgb)
    }
    val media = Seq(
      (1L, gradBmp(asc = true)), (2L, gradBmp(asc = true)), // exact clone pair
      (3L, gradBmp(asc = true, perturbX = 3)),              // near copy
      (4L, gradBmp(asc = false))                            // reversed gradient
    ).toDF("media_id", "payload")
    val h = Multimodal.dhashes(spark, media, decoder = Codecs.JvmDecoder)
      .collect().map(p => p.media_id -> p.dhash).toMap
    assert(h(1L) === -1L, s"ascending gradient must set all 64 bits, got ${h(1L)}")
    assert(h(4L) === 0L, s"descending gradient must clear all 64 bits, got ${h(4L)}")
    assert(h(2L) === h(1L))
    val hamNear = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamNear >= 1 && hamNear <= 3,
      s"one perturbed pixel should flip 1-3 gradient bits, flipped $hamNear")
    // determinism across runs/partitionings
    val h2 = Multimodal.dhashes(spark, media.repartition(3), decoder = Codecs.JvmDecoder)
      .collect().map(p => p.media_id -> p.dhash).toMap
    assert(h2 === h)
    // pair build over the hashes: clone pair at 0, near pair <= 3, the
    // reversed image (Hamming 64 from everything) pairs with nothing
    val hashFrame = Seq(1L -> h(1L), 2L -> h(2L), 3L -> h(3L), 4L -> h(4L))
      .toDF("media_id", "dhash")
    val pairs = graft.operators.NearDup.hammingPairs64(
        hashFrame, "media_id", "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs((1L, 3L)) === hamNear && pairs((2L, 3L)) === hamNear)
    assert(pairs.size === 3, s"reversed image must not pair: $pairs")
    // cluster closure (the q285 shape): {1,2,3} canonicalize to 1, the
    // reversed image stays its own canonical
    val clusters = graft.operators.Components.neardupClusters(
        graft.operators.NearDup.hammingPairs64(
            hashFrame, "media_id", "dhash", maxHamming = 3)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("frameDhashes: one hash per frame, per-frame values match the single-frame dhash") {
    // two-frame PPM: frame 0 a horizontal gradient, frame 1 its reverse
    val w = 9; val h = 8
    val grad = Array.tabulate(w * h * 3)(i => ((i / 3 % w) * 28).toByte)
    val rev = Array.tabulate(w * h * 3)(i => (255 - (i / 3 % w) * 28).toByte)
    val clip = Codecs.encodePpmStream(w, h, Seq(grad, rev))
    val single0 = Codecs.encodePpmStream(w, h, Seq(grad))
    val single1 = Codecs.encodePpmStream(w, h, Seq(rev))
    val fh = Multimodal.frameDhashes(spark,
        Seq(1L -> clip, 2L -> single0, 3L -> single1).toDF("media_id", "payload"),
        decoder = Codecs.JvmDecoder)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.dhash).toMap
    assert(fh.size === 4)
    // the clip's per-frame hashes equal the standalone frames' dhashes
    assert(fh((1L, 0)) === fh((2L, 0)))
    assert(fh((1L, 1)) === fh((3L, 0)))
    assert(fh((1L, 0)) !== fh((1L, 1)))
  }

  test("audio features: exact ZCR/energy per frame, partial tail, sample roundtrip, non-WAV skipped") {
    val samples = Array[Short](100, -200, 300, -400, 500, 0, -1, 2)
    val wav = Codecs.encodeWav(samples)
    val bmp = Codecs.encodeBmp(4, 4, Array.fill(48)(7.toByte))
    val mediaDf = Seq(1L -> wav, 2L -> bmp).toDF("media_id", "payload")
    // the /65535 float normalization must invert exactly to the PCM shorts
    val got = Multimodal.audioSamples(spark, mediaDf, decoder = Codecs.JvmDecoder)
      .collect().sortBy(_.idx)
    assert(got.map(_.media_id).distinct === Array(1L)) // BMP skipped
    assert(got.map(_.sample) === samples.map(_.toInt))
    // frames of 4: [100,-200,300,-400] -> 3 crossings, energy 300000;
    //              [500,0,-1,2] -> signs +,+,-,+ -> 2 crossings, 250005
    val ff = Multimodal.audioFrameFeatures(spark, mediaDf, frameLen = 4,
        decoder = Codecs.JvmDecoder)
      .collect().sortBy(_.frame_idx)
      .map(f => (f.media_id, f.frame_idx, f.frame_len, f.zero_crossings, f.energy))
    assert(ff.toSeq === Seq((1L, 0, 4, 3, 300000L), (1L, 1, 4, 2, 250005L)))
    // 6 samples at frameLen 4: partial tail frame of 2, crossings per frame
    val ff2 = Multimodal.audioFrameFeatures(spark,
        Seq(9L -> Codecs.encodeWav(Array[Short](1, -1, 1, -1, 1, -1)))
          .toDF("media_id", "payload"),
        frameLen = 4, decoder = Codecs.JvmDecoder)
      .collect().sortBy(_.frame_idx).map(f => (f.frame_len, f.zero_crossings))
    assert(ff2.toSeq === Seq((4, 3), (2, 1)))
  }

  test("audioFingerprints: ramp hashes all-ones, duration-invariant, clones pair at Hamming 0") {
    val ramp = Codecs.encodeWav(Array.tabulate(65)(i => (i * 10 - 320).toShort))
    val rampLong = Codecs.encodeWav(
      Array.tabulate(130)(i => (i * 5 - 320).toShort)) // same shape, 2x duration
    val fall = Codecs.encodeWav(Array.tabulate(65)(i => (320 - i * 10).toShort))
    val mediaDf = Seq(1L -> ramp, 2L -> ramp, 3L -> fall, 4L -> rampLong)
      .toDF("media_id", "payload")
    val sig = Multimodal.audioFingerprints(spark, mediaDf, decoder = Codecs.JvmDecoder)
      .collect().map(f => f.media_id -> f.sig).toMap
    assert(sig(1L) === -1L) // 64 rising steps -> 64 one-bits
    assert(sig(3L) === 0L)  // falling -> all zeros
    assert(sig(2L) === sig(1L))
    assert(sig(4L) === sig(1L), "resample must absorb the duration change")
    val pairs = graft.operators.NearDup.hammingPairs64(
        Seq(1L -> sig(1L), 2L -> sig(2L), 3L -> sig(3L)).toDF("media_id", "sig"),
        "media_id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs === Map((1L, 2L) -> 0))
  }
}
