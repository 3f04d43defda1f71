package graft

import graft.streaming.SentenceGate
import org.apache.spark.sql.functions._

/** SentenceGate: incremental CCNet sentence-frequency stripping.
  * Fixtures pin cross-batch floor crossing, by-sight counting,
  * distinct-doc semantics, replay idempotency, the streaming drive,
  * and verdict stability across compaction + vacuum (bucketed base).
  */
class SentenceGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("sentgate").toString

  private val Footer = "All rights reserved"

  private def doc(i: Long, body: String): (Long, String) =
    (i, s"$body. $Footer.")

  private def verdicts(g: SentenceGate, upTo: Long) =
    g.readVerdicts(upTo).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap

  test("floor crosses ACROSS batches: stripping starts at the batch " +
      "that reaches it") {
    val root = freshDir()
    val g = new SentenceGate(spark, root, maxDocs = 3L)
    // batch 0: footer in 2 docs — below the 3-doc floor, kept
    g.applyBatch(Seq(doc(1L, "Alpha body"), doc(2L, "Beta body"))
      .toDF("doc_id", "text"), 0L)
    // batch 1: one more sighting — cumulative 3 reaches the floor
    g.applyBatch(Seq(doc(3L, "Gamma body")).toDF("doc_id", "text"), 1L)
    val v = verdicts(g, 1L)
    assert(v((1L, 0L)) == ((2L, 2L, 0L, s"Alpha body $Footer")))
    assert(v((2L, 0L)) == ((2L, 2L, 0L, s"Beta body $Footer")))
    assert(v((3L, 1L)) == ((2L, 1L, 1L, "Gamma body")))
  }

  test("distinct-doc counting: within-doc repeats count once toward " +
      "the floor, but every copy strips once it trips") {
    val root = freshDir()
    val g = new SentenceGate(spark, root, maxDocs = 2L)
    // 'Echo' three times in ONE doc: nd = 1 < 2 → kept
    g.applyBatch(Seq((1L, "Echo. Echo. Echo.")).toDF("doc_id", "text"), 0L)
    assert(verdicts(g, 0L)((1L, 0L)) == ((3L, 3L, 0L, "Echo Echo Echo")))
    // a second DOC with 'Echo' (twice): nd total = 2 → both copies
    // strip from this batch's doc
    g.applyBatch(Seq((2L, "Echo. Keep me. Echo.")).toDF("doc_id", "text"), 1L)
    assert(verdicts(g, 1L)((2L, 1L)) == ((3L, 1L, 2L, "Keep me")))
  }

  test("stripped-to-nothing docs still report; replay is idempotent") {
    val root = freshDir()
    val g = new SentenceGate(spark, root, maxDocs = 2L)
    g.applyBatch(Seq((1L, s"$Footer."), (2L, s"$Footer."))
      .toDF("doc_id", "text"), 0L)
    val v0 = verdicts(g, 0L)
    assert(v0((1L, 0L)) == ((1L, 0L, 1L, "")))
    // replay batch 0 with the SAME docs: overwritten, not doubled —
    // the footer's count stays 2, not 4
    g.applyBatch(Seq((1L, s"$Footer."), (2L, s"$Footer."))
      .toDF("doc_id", "text"), 0L)
    assert(verdicts(g, 0L) == v0)
    g.applyBatch(Seq((3L, s"Fresh line. $Footer."))
      .toDF("doc_id", "text"), 1L)
    assert(verdicts(g, 1L)((3L, 1L)) == ((2L, 1L, 1L, "Fresh line")))
  }

  test("streaming drive via start() — foreachBatch + maintenance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = freshDir()
    val g = new SentenceGate(spark, root, maxDocs = 3L, numBuckets = 4)
    val in = MemoryStream[(Long, String)]
    val q = g.start(in.toDF().toDF("doc_id", "text"), freshDir(),
      compactEvery = 1)
    in.addData(doc(1L, "One body"), doc(2L, "Two body"))
    q.processAllAvailable()
    in.addData(doc(3L, "Three body"))
    q.processAllAvailable()
    // batch 2 probes the footer count through the COMPACTED base
    in.addData(doc(4L, "Four body"))
    q.processAllAvailable()
    q.stop()
    val v = verdicts(g, 2L)
    assert(v((1L, 0L))._4 == s"One body $Footer")
    assert(v((3L, 1L))._4 == "Three body")
    assert(v((4L, 2L))._4 == "Four body")
  }

  test("verdicts stable across compact + vacuum; base is bucketed " +
      "and probes without a corpus-side Exchange") {
    val root = freshDir()
    val g = new SentenceGate(spark, root, maxDocs = 3L, numBuckets = 4)
    g.applyBatch(Seq(doc(1L, "A body"), doc(2L, "B body"))
      .toDF("doc_id", "text"), 0L)
    g.applyBatch(Seq(doc(3L, "C body")).toDF("doc_id", "text"), 1L)
    val upTo = g.compact(currentBatchId = 2L)
    assert(upTo == 1L)
    g.vacuum(currentBatchId = 2L)
    // footer count (2) is now only reachable through the base;
    // +1 sighting in batch 2 trips the 3-doc floor
    g.applyBatch(Seq(doc(4L, "D body")).toDF("doc_id", "text"), 2L)
    assert(verdicts(g, 2L)((4L, 2L)) == ((2L, 1L, 1L, "D body")))
    // standing counts sum across base + recent: footer nd 2 in the
    // folded base (batch 0) plus 1 each in the unfolded batch-1 and
    // batch-2 partitions — 4 sightings total
    val standing = g.standing(3L)
      .groupBy("h").agg(sum("nd").as("nd")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fh = graft.functions.GraftFunctions.portableHashLocal(Footer)
    assert(standing(fh) == 4L)
    // plan shape: probing the h-bucketed base shuffles ONLY the
    // batch side
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq(fh, 42L).toDF("h")
      val base = spark.table(
        spark.catalog.listTables().collect()
          .map(_.name).filter(_.startsWith("graft_sentgate_base_"))
          .maxBy(_.split("_g").last.toLong))
      val joined = probe.join(base.select("h"), Seq("h"), "left_semi")
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
