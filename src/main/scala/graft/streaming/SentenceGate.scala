package graft.streaming

import graft.functions.GraftFunctions.portableHash
import graft.ops.Sentences
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CCNet sentence-frequency gate —
  * [[graft.ops.Sentences.stripBoilerplate]] recast incrementally:
  * each micro-batch's (doc_id, text) documents are segmented, every
  * sentence's distinct-document frequency over EVERYTHING SEEN SO FAR
  * (standing state plus the current batch) is computed, and sentences
  * at or above `maxDocs` are stripped. A cookie banner that enters the
  * corpus in batch 3 and crosses the frequency floor in batch 9 starts
  * vanishing from batch 9's documents onward — exactly the online
  * form of the batch operator's verdict.
  *
  * Batch and stream agree BY CONSTRUCTION: the gate segments with
  * the same [[Sentences.sentencesOf]] and counts per-document
  * distinct occurrences the way the batch op does
  * (doc_sentence_gate_e2e pins the two-batch composition against a
  * SQL re-statement of both batches).
  *
  * Key and fold: `counts/` holds `(h, nd)` — the per-sentence-hash
  * distinct-doc count each batch contributed, 16 bytes a sentence, NO
  * text — and compaction SUMS nd per h. Counting is by SIGHT, not
  * admission: every seen document's sentences count toward the floor
  * whether or not earlier batches stripped them — frequency is
  * evidence of boilerplate. Hash collisions (portableHash mod ~1e9)
  * conflate two sentences' counts — conservative for a strip decision
  * and shared verbatim by the oracle twin.
  *
  * Verdicts `(doc_id, n_sentences, n_kept, n_dropped, text_kept)`:
  * `text_kept` is order-preserving with the over-floor sentences
  * stripped; a document stripped to nothing emits an empty
  * `text_kept`, never disappears.
  */
final class SentenceGate(spark: SparkSession, stateDir: String,
    maxDocs: Long = 10L, numBuckets: Int = 32)
    extends StandingGate[Row](spark, stateDir, "counts",
      "graft_sentgate_base", "h BIGINT, nd BIGINT", "h", numBuckets) {
  require(maxDocs >= 2L, s"need maxDocs >= 2, got $maxDocs")

  override protected def fold(rows: DataFrame): DataFrame =
    rows.groupBy("h").agg(sum(col("nd")).as("nd"),
      min(col("batch")).as("batch"))

  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val b = batch.dropDuplicates("doc_id")
    val ex = b.select(col("doc_id"),
        posexplode(Sentences.sentencesOf(col("text")))
          .as(Seq("pos", "s")))
      .withColumn("h", portableHash(col("s")))
    val batchCounts = ex.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
    commit(batchId, ex, batchCounts) {
      // probe-pruned standing sum: the semi-join keeps the bucketed
      // base side Exchange-free and the re-aggregation batch-sized
      val prior = standing(batchId)
        .join(batchCounts.select("h"), Seq("h"), "left_semi")
        .groupBy("h").agg(sum(col("nd")).as("__prior"))
      val boiler = batchCounts.join(prior, Seq("h"), "left")
        .filter(col("nd") + coalesce(col("__prior"), lit(0L)) >= maxDocs)
        .select("h")
      val kept = ex.join(boiler, Seq("h"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("s")))),
            x => x.getField("s")), " ").as("text_kept"))
      val totals = ex.groupBy("doc_id")
        .agg(count(lit(1)).as("__n"))
      b.select(col("doc_id"))
        .join(totals, Seq("doc_id"), "left")
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__n"), lit(0L)).as("n_sentences"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (coalesce(col("__n"), lit(0L)) -
            coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("text_kept"), lit("")).as("text_kept"))
    }(_ => batchCounts)
  }
}
