package graft

import graft.streaming.UrlGate
import org.apache.spark.sql.functions._

/** UrlGate: the streaming crawl-frontier seen-set. Fixtures pin all
  * four verdicts, canonical folding across spellings, replay
  * idempotency, and verdict stability across compaction + vacuum —
  * the StandingGate conventions through their fourth consumer.
  */
class UrlGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("urlgate").toString

  private def verdicts(g: UrlGate, upTo: Long) =
    g.readVerdicts(upTo).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap

  test("four verdicts: admit, within-batch claim to the smallest id, " +
      "corpus dup under a DIFFERENT spelling, grammar reject") {
    val g = new UrlGate(spark, freshDir())
    g.applyBatch(Seq(
      (1L, "http://a.com/x"),
      (2L, "HTTP://A.COM:80/x/"), // same canonical as 1 → in-batch dup
      (3L, "https://b.org/y"),
      (4L, "/relative/nope")) // grammar reject
      .toDF("id", "url"), 0L)
    val v0 = verdicts(g, 0L)
    assert(v0(1L) == "admitted")
    assert(v0(2L) == "dup_in_batch", "canonical spellings must fold")
    assert(v0(3L) == "admitted")
    assert(v0(4L) == "rejected")
    // batch 1: yet another spelling of 1's URL → dup_of_corpus for
    // EVERY member of its group, including the batch keeper
    g.applyBatch(Seq(
      (5L, "http://www.a.com/x?utm_source=z"),
      (6L, "http://a.com/x"),
      (7L, "http://c.net/z"))
      .toDF("id", "url"), 1L)
    val v1 = verdicts(g, 1L)
    assert(v1(5L) == "dup_of_corpus")
    assert(v1(6L) == "dup_of_corpus")
    assert(v1(7L) == "admitted")
  }

  test("rejected and dup URLs contribute no standing state; replay " +
      "overwrites idempotently") {
    val dir = freshDir()
    val g = new UrlGate(spark, dir)
    g.applyBatch(Seq((1L, "/bad"), (2L, "http://a.com/x"),
      (3L, "http://a.com/x/")).toDF("id", "url"), 0L)
    // replay batch 0 (a restart): identical verdicts, no double state
    g.applyBatch(Seq((1L, "/bad"), (2L, "http://a.com/x"),
      (3L, "http://a.com/x/")).toDF("id", "url"), 0L)
    assert(verdicts(g, 0L) ==
      Map(1L -> "rejected", 2L -> "admitted", 3L -> "dup_in_batch"))
    // a fresh URL colliding only with the REJECTED/claimed rows of
    // batch 0 must still reflect 2's admission
    g.applyBatch(Seq((9L, "HTTP://A.COM/x")).toDF("id", "url"), 1L)
    assert(verdicts(g, 1L)(9L) == "dup_of_corpus")
  }

  test("verdicts stable across compact + vacuum; the folded base " +
      "serves the probe") {
    val dir = freshDir()
    val g = new UrlGate(spark, dir)
    g.applyBatch(Seq((1L, "http://a.com/1"), (2L, "http://a.com/2"))
      .toDF("id", "url"), 0L)
    g.applyBatch(Seq((3L, "http://a.com/3")).toDF("id", "url"), 1L)
    val before = verdicts(g, 1L)
    assert(g.compact(currentBatchId = 1L) == 1L)
    assert(g.vacuum(currentBatchId = 1L) >= 1)
    assert(g.baseIndex().nonEmpty, "compaction must commit a base")
    assert(verdicts(g, 1L) == before, "verdicts must not move")
    // batch 2 probes THROUGH the base: a re-spelling of batch-0's
    // URL is still a corpus dup
    g.applyBatch(Seq((4L, "http://A.COM/1"), (5L, "http://a.com/9"))
      .toDF("id", "url"), 2L)
    val v2 = verdicts(g, 2L)
    assert(v2(4L) == "dup_of_corpus")
    assert(v2(5L) == "admitted")
  }
}
