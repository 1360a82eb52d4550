package graft

import org.apache.spark.sql.functions._

import graft.functions.Multimodal

/** Hot-band behavior of the aHash near-dup blocking — the
  * monochrome-image pathology: flat images all share one aHash, their
  * four bands go quadratic, and the band-df cap must drop exactly
  * those bands while the pigeonhole guarantee keeps genuinely distinct
  * near-pairs.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // 50 "monochrome" docs sharing one hash (a flat gray image cluster)
  // plus two distinct images at Hamming distance 1 from each other and
  // far from the cluster
  private lazy val hashes = (
    (1L to 50L).map(id => (id, 0x0F0F0F0F0F0F0F0FL, 0x3333333333333333L)) ++
      Seq((100L, 0x00000000000000FFL, 0x0000000000000000L),
        (101L, 0x00000000000000FEL, 0x0000000000000000L)))
    .toDF("doc_id", "hash_hi", "hash_lo")

  test("aHashNearDup: band-df cap drops the flat-image bands, keeps the rest") {
    // uncapped (default 4096): the 50-clone cluster yields C(50,2)
    // pairs plus the one distinct near-pair
    val uncapped = Multimodal.aHashNearDup(hashes, maxDist = 3)
    assert(uncapped.count() === 50L * 49 / 2 + 1)
    // capped below the cluster size: all four cluster bands are hot and
    // dropped — ONLY the distinct near-pair survives, and the pair
    // count collapses from quadratic to constant
    val capped = Multimodal.aHashNearDup(hashes, maxDist = 3, maxBandDf = 10)
    val rows = capped.collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 100L && rows.head.getLong(1) === 101L)
    assert(rows.head.getInt(2) === 1)
  }

  test("aHashNearDup: a cap at the cluster size is a no-op (<=, not <)") {
    val atSize = Multimodal.aHashNearDup(hashes, maxDist = 3, maxBandDf = 50)
    assert(atSize.count() === 50L * 49 / 2 + 1)
  }

  test("aHashNearDup: maxBandDf = 0 disables the cap (repo df-cap convention)") {
    // 0-disables like maxPrefixDf/maxShingleDf: the full quadratic
    // cluster comes back, and the df window drops out of the plan
    val off = Multimodal.aHashNearDup(hashes, maxDist = 3, maxBandDf = 0)
    assert(off.count() === 50L * 49 / 2 + 1)
    assert(!off.queryExecution.optimizedPlan.toString.contains("windowspec"))
    // 1 can never pair — rejected, not silently empty
    intercept[IllegalArgumentException] {
      Multimodal.aHashNearDup(hashes, maxDist = 3, maxBandDf = 1)
    }
  }

  test("AudioCodec: WAV round-trip is sample-exact; corrupt bytes drop") {
    val samples = Array.tabulate(1000)(i =>
      (((i * 37) % 4096) - 2048).toShort)
    val wav = Multimodal.AudioCodec.encodePcmWav(samples)
    assert(Multimodal.AudioCodec.looksLikeWav(wav))
    val back = Multimodal.AudioCodec.decodePcm(wav)
    assert(back.isDefined && back.get.sameElements(samples))
    assert(Multimodal.AudioCodec.decodePcm("not a wav".getBytes).isEmpty)
    // truncated header: sniff rejects, no exception
    assert(Multimodal.AudioCodec.decodePcm(wav.take(8)).isEmpty)
  }

  test("audioStats: silence detection and ragged tail frames, hand-checked") {
    // one clip: frames of 4 samples; frame 0 silent, frame 1 loud,
    // tail frame (2 samples) silent
    val samples = Array[Short](0, 0, 0, 0, 5, -3, 0, 2, 0, 0)
    val wav = Multimodal.AudioCodec.encodePcmWav(samples)
    val blobs = Seq((7L, "audio", wav)).toDF("doc_id", "media_type", "data")
    val r = Multimodal.audioStats(blobs, frameSize = 4).collect().head
    assert(r.getLong(1) === 10L) // n_samples
    assert(r.getLong(2) === 25L + 9 + 4) // energy = 5^2 + 3^2 + 2^2
    assert(r.getInt(3) === 5) // peak
    assert(r.getLong(4) === 3L) // frames: 4+4+2
    assert(r.getLong(5) === 2L) // silent: frame 0 and the tail
  }
}
