package graft

import graft.streaming.SpanGate
import org.apache.spark.sql.functions._

/** SpanGate: incremental substring-dedup admission. Fixtures pin the
  * two duplication sources (within-batch, vs-corpus), the coverage
  * threshold, replay idempotency, and verdict stability across
  * compaction + vacuum.
  */
class SpanGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("spangate").toString

  // 20 distinct tokens -> 18 windows at w=3
  private val baseText = (1 to 20).map(i => s"t$i").mkString(" ")
  // shares tokens 1..12 with baseText (10 dup windows of 18),
  // then diverges
  private val halfDup =
    ((1 to 12).map(i => s"t$i") ++ (1 to 8).map(i => s"u$i")).mkString(" ")
  private val unique1 = (1 to 20).map(i => s"a$i").mkString(" ")
  private val unique2 = (1 to 20).map(i => s"b$i").mkString(" ")

  private def verdictMap(g: SpanGate, upTo: Long) =
    g.readVerdicts(upTo).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(5)))).toMap

  test("gate: corpus duplication rejects, partial overlap admits") {
    val g = new SpanGate(spark, freshDir(), w = 3, maxDupFrac = 0.6)
    g.applyBatch(Seq((1L, baseText), (2L, unique1)).toDF("doc_id", "text"), 0L)
    // batch 1: doc 3 = verbatim copy of admitted doc 1 (coverage 1.0,
    // rejected); doc 4 = 12/20 tokens shared (coverage 12/20 = 0.6,
    // admitted at <= 0.6); doc 5 = fresh (admitted)
    g.applyBatch(Seq((3L, baseText), (4L, halfDup), (5L, unique2))
      .toDF("doc_id", "text"), 1L)
    val v = verdictMap(g, 1L)
    assert(v((1L, 0L)) == ((20L, 0L, true)))
    assert(v((2L, 0L)) == ((20L, 0L, true)))
    assert(v((3L, 1L)) == ((20L, 20L, false)))
    // doc 4: dup windows at s=1..10 -> one span [1, 13) = 12 tokens
    assert(v((4L, 1L)) == ((20L, 12L, true)))
    assert(v((5L, 1L)) == ((20L, 0L, true)))
  }

  test("gate: within-batch duplication is symmetric (both copies rejected)") {
    val g = new SpanGate(spark, freshDir(), w = 3, maxDupFrac = 0.5)
    g.applyBatch(Seq((1L, baseText), (2L, baseText), (3L, unique1))
      .toDF("doc_id", "text"), 0L)
    val v = verdictMap(g, 0L)
    assert(v((1L, 0L))._3 == false && v((2L, 0L))._3 == false)
    assert(v((3L, 0L))._3 == true)
    // rejected docs contributed NO corpus state: the same text arrives
    // alone in batch 1 and is admitted
    g.applyBatch(Seq((9L, baseText)).toDF("doc_id", "text"), 1L)
    assert(verdictMap(g, 1L)((9L, 1L)) == ((20L, 0L, true)))
  }

  test("gate: short docs (< w tokens) always admit with zero coverage") {
    val g = new SpanGate(spark, freshDir(), w = 3, maxDupFrac = 0.0)
    g.applyBatch(Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text"), 0L)
    val v = verdictMap(g, 0L)
    assert(v((1L, 0L)) == ((2L, 0L, true)) && v((2L, 0L)) == ((2L, 0L, true)))
  }

  test("gate: batch replay overwrites (idempotent verdicts and state)") {
    val g = new SpanGate(spark, freshDir(), w = 3, maxDupFrac = 0.6)
    g.applyBatch(Seq((1L, baseText)).toDF("doc_id", "text"), 0L)
    g.applyBatch(Seq((3L, baseText)).toDF("doc_id", "text"), 1L)
    val before = verdictMap(g, 1L)
    g.applyBatch(Seq((3L, baseText)).toDF("doc_id", "text"), 1L) // replay
    assert(verdictMap(g, 1L) == before)
    // the replayed batch's corpus dir was overwritten, not doubled,
    // and batch 1 never probes itself: hash count is doc 1's windows
    assert(g.standing(1L).count() == 18L)
  }

  test("gate: streaming drive via start() — foreachBatch + maintenance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = freshDir()
    val g = new SpanGate(spark, root, w = 3, maxDupFrac = 0.6)
    val in = MemoryStream[(Long, String)]
    val q = g.start(in.toDF().toDF("doc_id", "text"), freshDir(),
      compactEvery = 1)
    in.addData((1L, baseText), (2L, unique1))
    q.processAllAvailable()
    in.addData((3L, baseText), (5L, unique2)) // 3 copies corpus doc 1
    q.processAllAvailable()
    in.addData((7L, unique2 + " tail goes on")) // overlaps admitted doc 5
    q.processAllAvailable()
    q.stop()
    val v = verdictMap(g, 2L)
    assert(v((1L, 0L))._3 && v((2L, 0L))._3)
    assert(!v((3L, 1L))._3 && v((5L, 1L))._3)
    // doc 7 = doc 5's 20 tokens + 3 more: 18 shared windows cover
    // tokens 1..20 -> dup_frac 20/23 > 0.6 -> rejected, via the
    // COMPACTED base (compactEvery=1 folded batches 0 then 1)
    assert(v((7L, 2L)) == ((23L, 20L, false)))
    assert(g.baseIndex().isDefined)
  }

  test("gate: verdicts stable across compact + vacuum; base is bucketed") {
    val root = freshDir()
    val g = new SpanGate(spark, root, w = 3, maxDupFrac = 0.6)
    g.applyBatch(Seq((1L, baseText), (2L, unique1)).toDF("doc_id", "text"), 0L)
    g.applyBatch(Seq((5L, unique2)).toDF("doc_id", "text"), 1L)
    val upTo = g.compact(currentBatchId = 2L)
    assert(upTo == 1L)
    g.vacuum(currentBatchId = 2L)
    // the compacted base + recent partition serve the same corpus
    assert(g.standing(2L).count() == 54L) // 3 docs x 18 windows
    // a copy of doc 1 (now only reachable through the BASE) rejects
    g.applyBatch(Seq((7L, baseText)).toDF("doc_id", "text"), 2L)
    assert(verdictMap(g, 2L)((7L, 2L)) == ((20L, 20L, false)))
    // plan shape: probing the h-bucketed base shuffles ONLY the
    // batch side — the corpus scan carries its partitioning
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq(17L, 42L).toDF("h")
      val joined = probe.join(g.baseIndex().get.select("h"),
        Seq("h"), "left_semi")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"base side must be a bucketed scan:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"only the batch side may shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }
}
