package graft.streaming

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CLIP near-dup gate — [[NearDupMediaGate]]'s incremental
  * admission lifted from single images to videos. A clip's signature
  * is its DISTINCT frame-dHash set (the mm_video_neardup signature);
  * two clips match when a MAJORITY of each side's distinct frames
  * near-match the other at per-frame Hamming ≤ 6 (2·matched ≥ n on
  * both sides, exact integers — the radius-aware criterion of
  * mm_video_neardup_r1, so a lossy re-encode that perturbs EVERY
  * frame by 1–2 bits still matches).
  *
  * Key and fold: `seen/` holds admitted clips' BANDED frame rows
  * (id, n, bi, bv, hash_hi, hash_lo) — the clip id and its
  * distinct-frame count ride every row so the majority verify needs
  * no second lookup — one row per distinct band row, bucketed by
  * `bv`. The corpus probe equi-joins the batch side (frames × 17
  * radius-1 values per band, the SMALL side carries the fan-out)
  * against the bucket-pruned standing bands; pigeonhole guarantees
  * every standing frame within Hamming ≤ 7 surfaces, the popcount
  * verifies ≤ 6, and the majority fold runs on the verified matches
  * only.
  *
  * Verdicts `(id, n_frames, verdict)`: `rejected` (decodes to no ok
  * frame), `dup_of_corpus` (majority-matches a PREVIOUSLY admitted
  * clip), `dup_in_batch` (not the min-id canonical of its batch-local
  * match component), else `admitted`.
  */
final class VideoGate(spark: SparkSession, stateDir: String,
    numBuckets: Int = 32) extends StandingGate[(Long, Array[Byte])](
    spark, stateDir, "seen", "graft_videogate_base",
    "id BIGINT, n BIGINT, bi INT, bv BIGINT, hash_hi BIGINT, " +
      "hash_lo BIGINT", "bv", numBuckets) {

  def applyBatch(batch: Dataset[(Long, Array[Byte])],
      batchId: Long): Unit = {
    val framesAll = Multimodal.videoFrameDHash(batch.dropDuplicates("_1"))
      .toDF().withColumnRenamed("doc_id", "id")
    // the clip signature: distinct ok frame hashes + their count;
    // zero ok frames (container corruption or all-bad frames) means
    // no signature — rejected, never admitted-by-vacuous-majority
    val frames = framesAll.filter(col("status") === "ok")
      .select("id", "hash_hi", "hash_lo").distinct()
    commit(batchId, framesAll, frames) {
      val nOf = frames.groupBy("id").agg(count(lit(1)).as("n"))
      // corpus probe: batch frames banded and expanded by the 17
      // radius-1 masks per band against the standing EXACT bands
      val probe = Multimodal.dhashBands(frames, Seq("id"))
        .withColumn("__m", explode(Multimodal.radius1Masks16))
        .select(col("id").as("qid"), col("bi"),
          col("bv").bitwiseXOR(col("__m")).as("bv"),
          col("hash_hi").as("qhi"), col("hash_lo").as("qlo"))
      // verified frame matches → the majority fold on BOTH sides:
      // matched distinct batch frames vs the batch clip's n, matched
      // distinct standing frames vs the standing clip's n (carried
      // on its rows)
      val corpusDup = probe
        .join(standing(batchId), Seq("bi", "bv"))
        .filter(Dedup.hamming128(col("qhi"), col("qlo"), col("hash_hi"),
          col("hash_lo")) <= 6L)
        .groupBy(col("qid"), col("id").as("sid"), col("n").as("sn"))
        .agg(countDistinct(struct(col("qhi"), col("qlo"))).as("mq"),
          countDistinct(struct(col("hash_hi"), col("hash_lo")))
            .as("ms"))
        .join(nOf.select(col("id").as("qid"), col("n").as("qn")),
          "qid")
        .filter(lit(2L) * col("mq") >= col("qn") &&
          lit(2L) * col("ms") >= col("sn"))
        .select(col("qid").as("id")).distinct()
      val remFrames = frames.join(
        corpusDup.withColumnRenamed("id", "__cd"),
        col("id") === col("__cd"), "left_anti")
      // batch-local components over the majority-match pair graph —
      // the mm_video_neardup_r1 generator, batch-sized on both sides
      val pairs = Multimodal.dhashBandProbeCandidates(remFrames)
        .filter(Dedup.hamming128(col("ha"), col("la"), col("hb"),
          col("lb")) <= 6L)
        .groupBy("id_a", "id_b")
        .agg(countDistinct(struct(col("ha"), col("la"))).as("ma"),
          countDistinct(struct(col("hb"), col("lb"))).as("mb"))
        .join(nOf.select(col("id").as("id_a"), col("n").as("na")),
          "id_a")
        .join(nOf.select(col("id").as("id_b"), col("n").as("nb")),
          "id_b")
        .filter(lit(2L) * col("ma") >= col("na") &&
          lit(2L) * col("mb") >= col("nb"))
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "__cid")
      framesAll.select("id").distinct()
        .join(nOf, Seq("id"), "left")
        .join(corpusDup.withColumn("__corpus", lit(true))
          .withColumnRenamed("id", "__cd2"),
          col("id") === col("__cd2"), "left")
        .join(comp, col("id") === col("__cid"), "left")
        .select(col("id"),
          coalesce(col("n"), lit(0L)).as("n_frames"),
          when(coalesce(col("n"), lit(0L)) === 0L, lit("rejected"))
            .when(coalesce(col("__corpus"), lit(false)),
              lit("dup_of_corpus"))
            .when(coalesce(col("comp"), col("id")) =!= col("id"),
              lit("dup_in_batch"))
            .otherwise(lit("admitted")).as("verdict"))
    } { v =>
      // the frame hashes come from the batch-local frame table:
      // applyBatch replays deterministically under the same batchId,
      // so the join reconstructs identical state on a replay
      Multimodal.dhashBands(v.filter(col("verdict") === "admitted")
          .select(col("id"), col("n_frames").as("n")).join(frames, "id"),
          Seq("id", "n"))
        .select("id", "n", "bi", "bv", "hash_hi", "hash_lo")
    }
  }
}
