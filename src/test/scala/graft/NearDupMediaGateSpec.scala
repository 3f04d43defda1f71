package graft

import graft.ops.ImageCodec
import graft.streaming.NearDupMediaGate
import org.apache.spark.sql.functions._

/** The streaming NEAR-dup media gate: Hamming-≤6 admission against
  * standing state (not exact-hash), batch-local component collapse,
  * compaction/restart/replay through the sixth StandingGate
  * consumer. Fixtures are 9×8 gray-walk PNGs whose dHash equals a
  * chosen 64-bit pattern exactly, so pairwise distances are
  * controlled bit counts.
  */
class NearDupMediaGateSpec extends SparkSpec {
  import spark.implicits._

  /** Encode a 9×8 PNG whose dHash is exactly `bits` (the
    * controlled-distance payload trick: r=g=b gray ±3 walk). */
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

  private def flip(base: Long, positions: Int*): Long =
    positions.foldLeft(base)((b, p) => b ^ (1L << p))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ndgate").toString

  test("near-dup admission: in-batch component collapse, corpus " +
      "near-match across batches and a compaction, rejected routing") {
    val state = tmp()
    val gate = new NearDupMediaGate(spark, state, numBuckets = 4)
    val p0 = 0x5a5a3c3c0ff0a5a5L
    val pFar = flip(p0, 0, 7, 9, 16, 21, 26, 33, 38, 41, 48, 55, 60)
    // batch 0: doc 1 = P0, doc 2 = P0+3 bits (near -> dup_in_batch),
    // doc 3 = far pattern (admitted)
    gate.applyBatch(Seq((1L, img(p0)), (2L, img(flip(p0, 3, 17, 40))),
      (3L, img(pFar))).toDS(), 0L)
    gate.compact(currentBatchId = 0L)
    gate.vacuum(currentBatchId = 0L)
    // batch 1, THROUGH the committed compaction: doc 10 = P0+2 other
    // bits (never seen exactly, near the ADMITTED doc-1 hash ->
    // dup_of_corpus); doc 11 near the far pattern -> dup_of_corpus;
    // doc 12 = 20 bits away from everything -> admitted; doc 13
    // garbage -> rejected. NOTE doc 10 is at distance 5 from doc 2's
    // hash too, but doc 2 was NOT admitted - only admitted content
    // blocks.
    val p20 = flip(pFar, 1, 2, 4, 5, 6, 8, 10, 11, 12, 13, 14, 15, 18,
      19, 20, 22, 23, 24, 25, 27)
    gate.applyBatch(Seq((10L, img(flip(p0, 5, 28))),
      (11L, img(flip(pFar, 50, 51))), (12L, img(p20)),
      (13L, Array[Byte](0x42, 0x41, 0x44))).toDS(), 1L)
    val v = new NearDupMediaGate(spark, state, numBuckets = 4)
      .readVerdicts(1L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v(1L) == "admitted")
    assert(v(2L) == "dup_in_batch")
    assert(v(3L) == "admitted")
    assert(v(10L) == "dup_of_corpus")
    assert(v(11L) == "dup_of_corpus")
    assert(v(12L) == "admitted", s"p20 should be far from state: $v")
    assert(v(13L) == "rejected")
    // replay idempotence: re-apply batch 1, verdicts unchanged
    gate.applyBatch(Seq((10L, img(flip(p0, 5, 28))),
      (11L, img(flip(pFar, 50, 51))), (12L, img(p20)),
      (13L, Array[Byte](0x42, 0x41, 0x44))).toDS(), 1L)
    val v2 = gate.readVerdicts(1L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v2 == v)
  }

  test("a transitive edit chain collapses to ONE admit per batch " +
      "and the canonical blocks the whole chain's neighborhood later") {
    val state = tmp()
    val gate = new NearDupMediaGate(spark, state, numBuckets = 4)
    val p0 = 0x0123456789abcdefL
    // chain: p0 -(4 bits)- pA -(4 bits)- pB; p0 and pB are 8 apart
    // (NOT a direct <= 6 pair) but the component collapses all three
    val pA = flip(p0, 2, 11, 30, 47)
    val pB = flip(pA, 5, 19, 36, 58)
    gate.applyBatch(Seq((7L, img(pA)), (5L, img(p0)), (9L, img(pB)))
      .toDS(), 0L)
    val v = gate.readVerdicts(0L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v(5L) == "admitted") // min id of the component
    assert(v(7L) == "dup_in_batch")
    assert(v(9L) == "dup_in_batch")
    // ONLY the canonical's hash stands: pB+1bit is 9 from p0 ->
    // admitted later (the chain's far end was not admitted)
    gate.applyBatch(Seq((20L, img(flip(pB, 60)))).toDS(), 1L)
    val v1 = gate.readVerdicts(1L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v1(20L) == "admitted",
      "only ADMITTED content blocks - not unadmitted chain members")
    // while p0+1bit stays blocked by the standing canonical
    gate.applyBatch(Seq((21L, img(flip(p0, 63)))).toDS(), 2L)
    val v2 = gate.readVerdicts(2L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v2(21L) == "dup_of_corpus")
  }

  test("an EMPTY micro-batch is routine, not a crash: the verdict " +
      "readback must not schema-infer a part-file-less directory") {
    val state = tmp()
    val gate = new NearDupMediaGate(spark, state, numBuckets = 4)
    val p0 = 0x00ff00ff00ff00ffL
    gate.applyBatch(Seq((1L, img(p0))).toDS(), 0L)
    // streaming foreachBatch routinely delivers empty batches
    // (trigger fired, no new data) — round-16's readback inferred
    // the just-written directory's schema and died here
    gate.applyBatch(spark.emptyDataset[(Long, Array[Byte])], 1L)
    gate.applyBatch(Seq((2L, img(flip(p0, 9))), (3L, img(~p0)))
      .toDS(), 2L)
    val v = gate.readVerdicts(2L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(v == Map(1L -> "admitted", 2L -> "dup_of_corpus",
      3L -> "admitted"),
      "state must flow straight through the empty batch")
  }
}
