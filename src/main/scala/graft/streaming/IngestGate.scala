package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-dup ingest gate: the production composition of
  * [[graft.ops.Dedup.incrementalNearDup]]. Each micro-batch of
  * (doc_id, text) documents is (1) self-deduplicated greedily within
  * the batch (drop any doc with a verified smaller-id near-dup in the
  * same batch), (2) probed against the STANDING corpus band index,
  * and (3) survivors are admitted. The corpus is never re-signatured:
  * each batch costs one pass over the batch plus a band-key equi-join
  * against the stored index, and a small batch side broadcasts under
  * AQE.
  *
  * Key and fold: `corpus/` holds admitted docs' `(doc_id, hs,
  * band_key)` band rows, bucketed by `band_key`; the fold is the
  * identity (the band index is append-only). The compacted base makes
  * the big corpus side of the probe a bucket-pruned scan with NO
  * Exchange — only the small batch side shuffles (plan-checked in
  * IngestGateSpec).
  *
  * Verdicts `(doc_id, verdict, dup_of, best_jac)`: `dup_in_batch`,
  * `dup_of_corpus` or `admitted`, with the matched id and Jaccard.
  */
final class IngestGate(spark: SparkSession, stateDir: String,
    k: Int = 16, rowsPerBand: Int = 8, threshold: Double = 0.95,
    numBuckets: Int = 64, probeCap: Int = IngestGate.DefaultProbeCap)
    extends StandingGate[Row](spark, stateDir, "corpus",
      "graft_gate_base", "doc_id BIGINT, hs ARRAY<BIGINT>, band_key STRING",
      "band_key", numBuckets) {

  /** Per-batch admission counters, observed on the verdicts write
    * itself (no extra job — the EngineMetrics pattern).
    */
  final case class GateStats(batchId: Long, nAdmitted: Long,
      nDupInBatch: Long, nDupCorpus: Long)

  @volatile private var lastStatsVar: Option[GateStats] = None
  def lastStats: Option[GateStats] = lastStatsVar

  override protected def fold(rows: DataFrame): DataFrame = rows

  /** Probe every corpus source and merge the per-source verdicts:
    * `dup_of` is the global min matching corpus id and `best_jac` the
    * global max, so the split-probe is row-identical to probing the
    * union (min/max are associative) — IngestGateSpec pins this across
    * a compaction. With a finite `probeCap` the heavy-band hub
    * collapse applies PER SOURCE (a band heavy only across the union
    * stays exact — the guard is a bound on per-source fan-out, and
    * compaction folds sources together over time anyway).
    */
  private def corpusDupVerdicts(batchId: Long, probe: DataFrame): DataFrame = {
    def one(c: DataFrame) =
      Dedup.incrementalNearDupBands(c, probe, "doc_id", threshold, probeCap)
    sources(batchId) match {
      case srcs if srcs.size > 1 =>
        srcs.map(one).reduce(_ unionByName _)
          .groupBy("doc_id")
          .agg(min("dup_of").as("dup_of"), max("best_jac").as("best_jac"))
      case srcs => one(union(srcs))
    }
  }

  /** Repeated doc_ids within the batch are collapsed first (keeping
    * one row): the strict `id_a < id_b` pair order means identical ids
    * never pair, so without the guard BOTH copies would be admitted
    * and the corpus index would double-count their band rows.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val b = batch.dropDuplicates("doc_id")
    val sets = b.select(col("doc_id"),
      Dedup.tokenHashSet(col("text")).as("hs"))
    // bands and both verdict frames feed TWO actions (the verdicts
    // write and the survivors write) — persisted so the tokenize/
    // MinHash/pair-join/corpus-probe lineage runs once per batch
    val bands = Dedup.bandTable(sets, "doc_id", "hs", k, rowsPerBand)
    // greedy in-batch self-dedup: a doc with ANY verified smaller-id
    // partner in the same batch is dropped (what a production gate
    // does — full transitive clustering per micro-batch buys little
    // and costs an iterative job)
    val inDup = Dedup.minhashNearDupPairs(sets, "doc_id", "hs",
      k, rowsPerBand, threshold)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min("id_a").as("dup_of"), max("jac").as("best_jac"))
    val probe = bands.join(inDup.select("doc_id"), Seq("doc_id"), "left_anti")
    val corpDup = corpusDupVerdicts(batchId, probe)
    val obs = org.apache.spark.sql.Observation(
      s"gate-$batchId-${System.nanoTime()}")
    // coalesce: sum over an EMPTY batch is null, not 0
    def cnt(v: String) =
      coalesce(sum(when(col("verdict") === v, 1L).otherwise(0L)), lit(0L)).as(v)
    commit(batchId, bands, inDup, corpDup) {
      b.select(col("doc_id"))
        .join(inDup.withColumnRenamed("dup_of", "dup_in")
          .withColumnRenamed("best_jac", "jac_in"), Seq("doc_id"), "left")
        .join(corpDup.withColumnRenamed("dup_of", "dup_corp")
          .withColumnRenamed("best_jac", "jac_corp"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("dup_in").isNotNull, lit("dup_in_batch"))
            .when(col("dup_corp").isNotNull, lit("dup_of_corpus"))
            .otherwise(lit("admitted")).as("verdict"),
          coalesce(col("dup_in"), col("dup_corp")).as("dup_of"),
          coalesce(col("jac_in"), col("jac_corp")).as("best_jac"))
        .observe(obs, cnt("admitted"), cnt("dup_in_batch"),
          cnt("dup_of_corpus"))
        .coalesce(1)
    }(_ => probe.join(corpDup.select("doc_id"), Seq("doc_id"), "left_anti"))
    val m = obs.get
    lastStatsVar = Some(GateStats(batchId,
      m("admitted").asInstanceOf[Long],
      m("dup_in_batch").asInstanceOf[Long],
      m("dup_of_corpus").asInstanceOf[Long]))
  }
}

object IngestGate {
  /** Finite by default (matching [[graft.ops.CurationPipeline]]'s
    * convention — cap at the production entry): a directly-constructed
    * gate routes heavy bands through the star-collapse guard instead
    * of silently inheriting an unbounded O(m²) band probe. Oracle
    * constructions that need exact semantics pass an explicit
    * `probeCap = Int.MaxValue`.
    */
  val DefaultProbeCap: Int = 32
}
