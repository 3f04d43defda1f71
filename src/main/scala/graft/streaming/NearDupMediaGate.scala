package graft.streaming

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming perceptual NEAR-dup media gate — [[MediaGate]]'s
  * standing seen-set upgraded from exact-hash membership to
  * guaranteed-recall Hamming-≤6 matching: a re-encode, brightness
  * shift, OR a few-bit perceptual edit of admitted content is
  * rejected in every later batch.
  *
  * Key and fold: `seen/` holds each admitted hash BANDED — four
  * (bi, bv, hash_hi, hash_lo) rows, the 16-bit bands of
  * [[Multimodal.dhashBands]] — one row per distinct band row,
  * bucketed by `bv`. The corpus probe is an equi-join on (bi, bv)
  * between the batch side expanded to its 17 radius-1 values per band
  * (the SMALL side carries the ×17 fan-out, 68 rows per image) and
  * the bucket-pruned standing bands. Pigeonhole guarantees every
  * standing hash within Hamming ≤ 7 of a batch hash surfaces as a
  * candidate; the exact popcount ≤ 6 verifies. The standing side is
  * never scanned row-by-row and never carries an expansion.
  *
  * Verdicts `(id, hash_hi, hash_lo, verdict)`: `rejected`
  * (undecodable), `dup_of_corpus` (within Hamming 6 of a PREVIOUSLY
  * admitted hash), `dup_in_batch` (not the min-id canonical of its
  * batch-local near-dup component — components over the ≤6 pair
  * graph, so a chain of small edits collapses to one admit per
  * batch), else `admitted`.
  */
final class NearDupMediaGate(spark: SparkSession, stateDir: String,
    numBuckets: Int = 32) extends StandingGate[(Long, Array[Byte])](
    spark, stateDir, "seen", "graft_neardupgate_base",
    "bi INT, bv BIGINT, hash_hi BIGINT, hash_lo BIGINT", "bv",
    numBuckets) {

  def applyBatch(batch: Dataset[(Long, Array[Byte])],
      batchId: Long): Unit = {
    val hashed = Multimodal.imageDHash(batch.dropDuplicates("_1"))
      .toDF()
      .withColumnRenamed("doc_id", "id")
    commit(batchId, hashed) {
      val valid = hashed.filter(col("status") === "ok")
      // corpus probe: batch bands expanded by the 17 radius-1 masks
      // per band, equi-joined against the standing EXACT bands —
      // every admitted hash within Hamming <= 7 surfaces, the
      // popcount verifies <= 6
      val probe = Multimodal.dhashBands(valid, Seq("id"))
        .withColumn("__m", explode(Multimodal.radius1Masks16))
        .select(col("id"), col("bi"),
          col("bv").bitwiseXOR(col("__m")).as("bv"),
          col("hash_hi").as("qhi"), col("hash_lo").as("qlo"))
      val corpusDup = probe
        .join(standing(batchId), Seq("bi", "bv"))
        .filter(Dedup.hamming128(col("qhi"), col("qlo"), col("hash_hi"),
          col("hash_lo")) <= 6L)
        .select("id").distinct()
      val rem = valid.join(corpusDup.withColumnRenamed("id", "__cd"),
        col("id") === col("__cd"), "left_anti")
      // batch-local near-dup components over the <= 6 pair graph —
      // the same multi-probe generator, batch-sized on both sides
      val pairs = Multimodal.dhashBandProbeCandidates(
          rem.select(col("id"), col("hash_hi"), col("hash_lo")))
        .filter(Dedup.hamming128(col("ha"), col("la"), col("hb"),
          col("lb")) <= 6L)
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "__cid")
      hashed
        .join(corpusDup.withColumn("__corpus", lit(true))
          .withColumnRenamed("id", "__cd2"),
          col("id") === col("__cd2"), "left")
        .join(comp, col("id") === col("__cid"), "left")
        .select(col("id"), col("hash_hi"), col("hash_lo"),
          when(col("status") =!= "ok", lit("rejected"))
            .when(coalesce(col("__corpus"), lit(false)),
              lit("dup_of_corpus"))
            .when(coalesce(col("comp"), col("id")) =!= col("id"),
              lit("dup_in_batch"))
            .otherwise(lit("admitted")).as("verdict"))
    } { v => Multimodal.dhashBands(v.filter(col("verdict") === "admitted")
      .select("hash_hi", "hash_lo").distinct(), Nil) }
  }
}
