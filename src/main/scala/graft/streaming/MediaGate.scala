package graft.streaming

import graft.ops.Multimodal
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming PERCEPTUAL media-dedup gate — [[Multimodal.imageDHash]]
  * recast incrementally: each micro-batch of (id, payload bytes) is
  * decoded and dHashed, so a brightness-shifted or losslessly
  * re-encoded copy of ANY previously admitted image is rejected in
  * every later batch even though its bytes are new — the gate
  * content-hash dedup cannot be. Pixels never leave the task; only
  * the 16-byte hash row shuffles.
  *
  * Key and fold: `seen/` holds admitted `(hash_hi, hash_lo)` pairs,
  * one row per hash, bucketed by `hash_lo` — no pixels, no payload
  * persists.
  *
  * Verdicts `(id, hash_hi, hash_lo, verdict)`: `rejected`
  * (undecodable — the DLQ branch), `dup_of_corpus` (hash admitted by
  * an earlier batch), `dup_in_batch` (a smaller id of this batch has
  * the hash), else `admitted`. A dHash collision suppresses an
  * admit — it never re-admits; conservative for a dedup gate.
  */
final class MediaGate(spark: SparkSession, stateDir: String,
    numBuckets: Int = 32) extends StandingGate[(Long, Array[Byte])](
    spark, stateDir, "seen", "graft_mediagate_base",
    "hash_hi BIGINT, hash_lo BIGINT", "hash_lo", numBuckets) {

  def applyBatch(batch: Dataset[(Long, Array[Byte])],
      batchId: Long): Unit = {
    val hashed = Multimodal.imageDHash(batch.dropDuplicates("_1"))
      .toDF()
      .withColumnRenamed("doc_id", "id")
    val key = Seq("hash_hi", "hash_lo")
    commit(batchId, hashed) {
      val valid = hashed.filter(col("status") === "ok")
      val claims = valid.groupBy(key.map(col): _*)
        .agg(min("id").as("__keeper"))
      val seen = valid.select(key.map(col): _*).distinct()
        .join(standing(batchId), key, "left_semi")
      hashed
        .join(claims, key, "left")
        .join(seen.withColumn("__seen", lit(true)), key, "left")
        .select(col("id"), col("hash_hi"), col("hash_lo"),
          when(col("status") =!= "ok", lit("rejected"))
            .when(coalesce(col("__seen"), lit(false)),
              lit("dup_of_corpus"))
            .when(col("id") =!= col("__keeper"), lit("dup_in_batch"))
            .otherwise(lit("admitted")).as("verdict"))
    } { _.filter(col("verdict") === "admitted")
      .select("hash_hi", "hash_lo").distinct() }
  }
}
