package graft

import graft.ops.ImageCodec
import graft.streaming.MediaGate

/** MediaGate: the streaming perceptual seen-set. Fixtures pin all
  * four verdicts, brightness-variant collapse across batches, replay
  * idempotency, and verdict stability across compaction + vacuum —
  * the StandingGate conventions through their fifth consumer.
  */
class MediaGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("mediagate").toString

  // a horizontal ramp at brightness offset `off` — all offsets share
  // one dHash (the invariance DHashSpec pins)
  private def ramp(off: Int): Array[Byte] =
    ImageCodec.encodePng(20, 10, (x, y) =>
      ((10 * x + off) << 16) | ((10 * x + off) << 8) | (10 * x + off))

  // a vertical ramp: a genuinely different contour
  private def vramp(): Array[Byte] =
    ImageCodec.encodePng(20, 10, (x, y) =>
      ((20 * y) << 16) | ((20 * y) << 8) | (20 * y))

  private def verdicts(g: MediaGate, upTo: Long) =
    g.readVerdicts(upTo).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap

  test("four verdicts; a brightness-shifted re-encode of an admitted " +
      "image is a corpus dup in the next batch") {
    val g = new MediaGate(spark, freshDir())
    g.applyBatch(Seq(
      (1L, ramp(0)),
      (2L, ramp(25)), // same perceptual content → in-batch dup
      (3L, vramp()),
      (4L, Array[Byte](1, 2, 3))) // undecodable
      .toDS(), 0L)
    val v0 = verdicts(g, 0L)
    assert(v0(1L) == "admitted")
    assert(v0(2L) == "dup_in_batch", "brightness variants must fold")
    assert(v0(3L) == "admitted")
    assert(v0(4L) == "rejected")
    g.applyBatch(Seq((5L, ramp(50))).toDS(), 1L)
    assert(verdicts(g, 1L)(5L) == "dup_of_corpus",
      "a new-bytes re-encode of seen content must be a corpus dup")
  }

  test("replay overwrites idempotently; verdicts stable across " +
      "compact + vacuum; the folded base serves the probe") {
    val g = new MediaGate(spark, freshDir())
    g.applyBatch(Seq((1L, ramp(0)), (2L, vramp())).toDS(), 0L)
    g.applyBatch(Seq((1L, ramp(0)), (2L, vramp())).toDS(), 0L) // replay
    g.applyBatch(Seq((3L, ImageCodec.encodePng(8, 8, (x, y) =>
      ((x * y * 37) % 256) * 0x010101))).toDS(), 1L)
    val before = verdicts(g, 1L)
    assert(before == Map(1L -> "admitted", 2L -> "admitted",
      3L -> "admitted"))
    assert(g.compact(currentBatchId = 1L) == 1L)
    assert(g.vacuum(currentBatchId = 1L) >= 1)
    assert(g.baseIndex().nonEmpty)
    assert(verdicts(g, 1L) == before)
    g.applyBatch(Seq((9L, ramp(75))).toDS(), 2L)
    assert(verdicts(g, 2L)(9L) == "dup_of_corpus",
      "the probe must reach batch-0 state through the folded base")
  }
}
