package graft

import graft.ops.{ImageCodec, VideoCodec}
import graft.streaming.VideoGate
import org.apache.spark.sql.functions._

/** The streaming CLIP near-dup gate (StandingGate consumer #7):
  * majority-of-frames Hamming-≤6 admission against standing state,
  * batch-local component collapse, compaction/restart flow. Fixtures
  * are AVI containers of 9×8 gray-walk frames whose per-frame dHash
  * equals a chosen 64-bit pattern exactly, so per-frame distances are
  * controlled bit counts and the majority arithmetic is pinned.
  */
class VideoGateSpec extends SparkSpec {
  import spark.implicits._

  private def img(bits: Long): Array[Byte] = {
    val gray = Array.ofDim[Int](8, 9)
    for (y <- 0 until 8) {
      gray(y)(0) = 100
      for (x <- 0 until 8) {
        val set = (bits >>> (y * 8 + x)) & 1L
        gray(y)(x + 1) = gray(y)(x) + (if (set == 1L) 3 else -3)
      }
    }
    ImageCodec.encodePng(9, 8, (x, y) => gray(y)(x) * 0x010101)
  }

  private def clip(frames: Long*): Array[Byte] =
    VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames.map(img))

  private def flip(base: Long, positions: Int*): Long =
    positions.foldLeft(base)((b, p) => b ^ (1L << p))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("videogate").toString

  // three mutually-far frame patterns (pairwise Hamming 32) and an
  // unrelated far family
  private val f0 = 0x0f0f0f0f0f0f0f0fL
  private val f1 = 0x00ff00ff00ff00ffL
  private val f2 = 0xffff0000ffff0000L
  private val g0 = 0xaaaa5555aaaa5555L
  private val g1 = 0x33333333ccccccccL

  private def verdictMap(gate: VideoGate, upTo: Long): Map[Long, String] =
    gate.readVerdicts(upTo).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap

  test("majority near-match admission: re-encode collapses in batch, " +
      "corpus blocks through a committed compaction, one-frame edit " +
      "still matches, two-frame replacement admits, corrupt rejects") {
    val state = tmp()
    val gate = new VideoGate(spark, state, numBuckets = 4)
    // batch 0: clip 1 = [f0 f1 f2]; clip 2 = the same clip with EVERY
    // frame shifted 1 bit (a lossy re-encode — exact frame equality
    // never fires, majority near-match must) -> dup_in_batch;
    // clip 3 = unrelated [g0 g1] -> admitted
    gate.applyBatch(Seq(
      (1L, clip(f0, f1, f2)),
      (2L, clip(flip(f0, 3), flip(f1, 17), flip(f2, 40))),
      (3L, clip(g0, g1))).toDS(), 0L)
    val v0 = verdictMap(gate, 0L)
    assert(v0 == Map(1L -> "admitted", 2L -> "dup_in_batch",
      3L -> "admitted"))
    gate.compact(currentBatchId = 0L)
    gate.vacuum(currentBatchId = 0L)
    // batch 1, THROUGH the committed compaction:
    //  - clip 10: every frame of clip 1 shifted 2 bits -> corpus dup
    //  - clip 11: one frame of the three REPLACED by far content —
    //    2 of 3 match both ways (2·2 >= 3) -> still corpus dup
    //  - clip 12: two frames replaced — 1 of 3 (2·1 < 3) -> admitted
    //  - clip 13: near clip 3 (both frames 1 bit off) -> corpus dup
    //  - clip 14: garbage container -> rejected
    gate.applyBatch(Seq(
      (10L, clip(flip(f0, 5, 28), flip(f1, 9, 44), flip(f2, 2, 61))),
      (11L, clip(flip(f0, 6), flip(f1, 23), g0 ^ 0x5a5aa5a5L)),
      (12L, clip(flip(f0, 7), ~f1, ~f2)),
      (13L, clip(flip(g0, 12), flip(g1, 31))),
      (14L, Array[Byte](0x42, 0x41, 0x44))).toDS(), 1L)
    val v1 = verdictMap(gate, 1L)
    assert(v1(10L) == "dup_of_corpus")
    assert(v1(11L) == "dup_of_corpus")
    assert(v1(12L) == "admitted")
    assert(v1(13L) == "dup_of_corpus")
    assert(v1(14L) == "rejected")
    // batch 2: clip 12's admitted content now blocks ITS re-encode,
    // while clip 2's never-admitted edit chain does not block content
    // near only its unique... (clip 2's frames are near clip 1's, so
    // the block would come from clip 1 either way — pinned instead:
    // the two-frame-replaced signature is standing state now)
    gate.applyBatch(Seq(
      (20L, clip(flip(f0, 7, 11), flip(~f1, 3), flip(~f2, 9)))).toDS(),
      2L)
    assert(verdictMap(gate, 2L)(20L) == "dup_of_corpus")
  }

  test("distinct-frame signature: repeated frames count once, and " +
      "the majority denominator is the DISTINCT count") {
    val state = tmp()
    val gate = new VideoGate(spark, state, numBuckets = 4)
    // clip 1 = [f0 f0 f1]: distinct n = 2
    gate.applyBatch(Seq((1L, clip(f0, f0, f1))).toDS(), 0L)
    val n = gate.readVerdicts(0L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(n(1L) == 2L, "n_frames must be the DISTINCT frame count")
    // a clip matching only f0 of the two: 2·1 >= 2 -> majority holds
    gate.applyBatch(Seq((2L, clip(flip(f0, 4), g0))).toDS(), 1L)
    assert(verdictMap(gate, 1L)(2L) == "dup_of_corpus")
    // a clip with 3 distinct frames matching only f0: 2·1 < 3 on its
    // side -> admitted (majority must hold on BOTH sides)
    gate.applyBatch(Seq((3L, clip(flip(f0, 8), g1, ~g1))).toDS(), 2L)
    assert(verdictMap(gate, 2L)(3L) == "admitted")
  }

  test("an EMPTY micro-batch flows through; replay is idempotent") {
    val state = tmp()
    val gate = new VideoGate(spark, state, numBuckets = 4)
    gate.applyBatch(Seq((1L, clip(f0, f1))).toDS(), 0L)
    gate.applyBatch(spark.emptyDataset[(Long, Array[Byte])], 1L)
    gate.applyBatch(Seq((2L, clip(flip(f0, 2), flip(f1, 3)))).toDS(), 2L)
    val v = verdictMap(gate, 2L)
    assert(v == Map(1L -> "admitted", 2L -> "dup_of_corpus"))
    // replay batch 2 — verdicts and state overwrite, nothing doubles
    gate.applyBatch(Seq((2L, clip(flip(f0, 2), flip(f1, 3)))).toDS(), 2L)
    assert(verdictMap(gate, 2L) == v)
    assert(gate.readVerdicts(2L).count() == 2L)
  }
}
