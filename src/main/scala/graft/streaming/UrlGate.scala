package graft.streaming

import graft.functions.GraftFunctions.portableHash
import graft.ops.UrlOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming URL-frontier gate — the crawl scheduler's seen-set,
  * incremental: each micro-batch of candidate (id, url) rows is
  * canonicalized ([[UrlOps.canonicalize]] — scheme/host case, www,
  * default ports, tracking params, trailing slash, fragments all
  * fold), so the frontier never re-fetches a page it has already
  * scheduled under ANY spelling of its URL.
  *
  * Key and fold: `seen/` holds admitted canonicals' portableHash `h`
  * (8 bytes a URL, no URL text persists), one row per h. A hash
  * collision suppresses a fetch, never double-fetches; conservative
  * for a frontier and shared verbatim by the oracle twin.
  *
  * Verdicts `(id, canonical, verdict)`: `rejected` (grammar reject —
  * a frontier drops those loudly, it never fetches them),
  * `dup_of_corpus` (h admitted by an earlier batch), `dup_in_batch`
  * (a smaller id of this batch claims h), else `admitted`. Repeated
  * ids within a batch collapse first (keeping one row).
  */
final class UrlGate(spark: SparkSession, stateDir: String,
    numBuckets: Int = 32) extends StandingGate[Row](spark, stateDir,
    "seen", "graft_urlgate_base", "h BIGINT", "h", numBuckets) {

  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val canon = batch.dropDuplicates("id").select(col("id"),
        UrlOps.canonicalize(col("url")).as("canonical"))
      .withColumn("h", portableHash(col("canonical")))
    commit(batchId, canon) {
      val valid = canon.filter(col("canonical").isNotNull)
      // within-batch claim: the smallest id per canonical hash wins
      val claims = valid.groupBy("h").agg(min("id").as("__keeper"))
      // standing membership: batch side probes the h-bucketed corpus
      val seen = valid.select("h").distinct()
        .join(standing(batchId), Seq("h"), "left_semi")
      canon.join(claims, Seq("h"), "left")
        .join(seen.withColumn("__seen", lit(true)), Seq("h"), "left")
        .select(col("id"), col("canonical"),
          when(col("canonical").isNull, lit("rejected"))
            .when(coalesce(col("__seen"), lit(false)),
              lit("dup_of_corpus"))
            .when(col("id") =!= col("__keeper"), lit("dup_in_batch"))
            .otherwise(lit("admitted")).as("verdict"))
    } { _.filter(col("verdict") === "admitted")
      .select(portableHash(col("canonical")).as("h")).distinct() }
  }
}
