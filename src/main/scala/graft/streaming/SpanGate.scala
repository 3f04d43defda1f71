package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SUBSTRING-dedup ingest gate — [[graft.ops.Dedup.dupSpans]]
  * recast incrementally: each micro-batch of (doc_id, text) is scored
  * for duplicated-span coverage against the standing window hashes
  * and against itself (a window repeated within the batch, including
  * within one document). The standing corpus keeps the invariant "no
  * admitted document overlaps an earlier admitted one by a full
  * w-window beyond the tolerated fraction".
  *
  * Batch and stream agree on span geometry BY CONSTRUCTION: the gate
  * calls the same [[Dedup.windowHashes]] front half and
  * [[Dedup.mergeWindowSpans]] island merge the batch operator uses
  * (doc_span_gate_e2e pins the composition against a SQL re-statement
  * of both batches).
  *
  * Key and fold: `hashes/` holds admitted docs' DISTINCT window hashes
  * `h`, one row per h — O(distinct windows of admitted docs), 8 bytes
  * a window before parquet encoding; the corpus is never
  * re-tokenized.
  *
  * Verdicts `(doc_id, n_toks, dup_toks, dup_frac, admitted)`: a
  * document whose covered-token fraction exceeds `maxDupFrac` is
  * rejected. A document shorter than w tokens has zero windows, zero
  * duplicated coverage, and is always admitted.
  */
final class SpanGate(spark: SparkSession, stateDir: String,
    w: Int = 16, maxDupFrac: Double = 0.5, numBuckets: Int = 32)
    extends StandingGate[Row](spark, stateDir, "hashes",
      "graft_spangate_base", "h BIGINT", "h", numBuckets) {
  require(w > 0 && maxDupFrac >= 0.0 && maxDupFrac <= 1.0,
    "need w > 0 and maxDupFrac in [0, 1]")

  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val b = batch.dropDuplicates("doc_id")
    val wins = Dedup.windowHashes(b, col("doc_id"), col("text"), w)
    commit(batchId, wins) {
      val docs = b.select(col("doc_id"),
        size(graft.functions.GraftFunctions.tokens(col("text")))
          .cast("long").as("n_toks"))
      // duplicated = repeated within the batch OR present in the
      // corpus. Membership via TWO semi-joins (batch side probes the
      // h-bucketed corpus; never a distinct over the corpus-sized
      // union — that would re-shuffle the whole standing hash set
      // every batch), then a batch-sized dedup of the hit positions.
      val inBatch = wins.groupBy("h").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select("h")
      val hits = wins.join(standing(batchId), Seq("h"), "left_semi")
        .unionByName(wins.join(inBatch, Seq("h"), "left_semi"))
        .select(col("id"), col("s")).distinct()
      val perDoc = Dedup.mergeWindowSpans(hits, w)
        .groupBy(col("id").as("doc_id"))
        .agg(sum(col("span_len_toks")).as("dup_toks"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .withColumn("dup_toks", coalesce(col("dup_toks"), lit(0L)))
        .withColumn("dup_frac",
          when(col("n_toks") > 0,
            col("dup_toks").cast("double") / col("n_toks").cast("double"))
            .otherwise(lit(0.0d)))
        .withColumn("admitted", col("dup_frac") <= maxDupFrac)
    } { v =>
      val admitted = v.filter(col("admitted")).select("doc_id")
      wins.join(admitted, wins("id") === admitted("doc_id"))
        .select("h").distinct()
    }
  }
}
