package graft.order

import graft.model.Position
import graft.functions.GraftFunctions.ux
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-level ordering and gating primitives for the batch former.
  *
  * The reference keeps a driver-side min-heap ordered by
  * (step, txId, arrivalOrder) and pops everything strictly below the
  * quorum (tx_queue/priority_queue.go, tx_queue.go). In Spark the heap
  * disappears: the pops become filters, and the order matters only
  * within a key, where `LwwMerge.merge` sorts each key's events by
  * position — no global sort.
  */
object BatchOrder {

  /** position(step,txId) < param(p), unsigned-correct. Strictly-less
    * is the quorum-cut semantic (tx_queue.go:26-33). The bound rides a
    * [[graft.functions.NativeExpressions.ParamLongExpr]] rather than a
    * Literal so the generated code is stable across batches (each
    * micro-batch's cut bound differs; inlined literals would force a
    * Janino recompile of every emission stage every batch).
    */
  def posLt(step: Column, txId: Column, p: Position): Column = {
    val s = param(Position.ux(p.step)); val t = param(Position.ux(p.txId))
    (ux(step) < s) || (ux(step) === s && ux(txId) < t)
  }

  /** position > param(p) — checkpoint filter (skip already-applied;
    * processor.go:428-445).
    */
  def posGt(step: Column, txId: Column, p: Position): Column = {
    val s = param(Position.ux(p.step)); val t = param(Position.ux(p.txId))
    (ux(step) > s) || (ux(step) === s && ux(txId) > t)
  }

  private def param(x: Long): Column =
    graft.functions.NativeExpressions.paramLong(x)

  /** Tag changes that violate per-partition order: a change whose
    * position is <= the latest heartbeat previously seen on its own
    * partition (stream order = offset). `carried` is the tracker's
    * last-hb snapshot entering the batch, broadcast-joined; the running
    * max within the batch is a window over arrival order.
    * (reference: reader.go:150-207 — protocol-violation detection.)
    */
  def tagLate(changes: DataFrame, hbs: DataFrame, carried: DataFrame): DataFrame = {
    // Interleave changes and heartbeats per partition by arrival order,
    // carry a running max of heartbeat positions (struct max over a
    // window), then flag changes at/below that running max. The change
    // payload rides THROUGH the union (heartbeat rows carry nulls), so
    // tagging is one window shuffle — no join back on the 3-column
    // source coordinate.
    val hbPos = hbs.select(
      col("tableId"), col("partitionId"), col("offset"),
      struct(ux(col("step")).as("s"), ux(col("txId")).as("t")).as("hb"))
      .withColumn("isHb", lit(true))
    val chg = changes
      .withColumn("hb", lit(null).cast("struct<s:bigint,t:bigint>"))
      .withColumn("isHb", lit(false))
    val w = Window.partitionBy("tableId", "partitionId").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carriedHb = carried.select(
      col("tableId").as("ctable"), col("partitionId").as("cpart"),
      struct(ux(col("step")).as("s"), ux(col("txId")).as("t")).as("chb"))
    val last = when(col("runHb").isNull, col("chb"))
      .when(col("chb").isNull, col("runHb"))
      .when(col("runHb") >= col("chb"), col("runHb"))
      .otherwise(col("chb"))
    chg.unionByName(hbPos, allowMissingColumns = true)
      .withColumn("runHb", max(col("hb")).over(w))
      .filter(!col("isHb"))
      .join(broadcast(carriedHb),
        col("tableId") === col("ctable") && col("partitionId") === col("cpart"), "left")
      .withColumn("lastHb", last)
      .withColumn("isLate", col("lastHb").isNotNull &&
        struct(ux(col("step")).as("s"), ux(col("txId")).as("t")) <= col("lastHb"))
      .drop("hb", "isHb", "ctable", "cpart", "chb", "runHb", "lastHb")
  }

  /** Heartbeat maxima FUSED with the batch's malformed-frame count,
    * over the raw parsed frame (CdcParser.parseEnvelope output): one
    * full-scan job returns per-(tableId, partitionId) rows carrying
    * the max post-checkpoint heartbeat (null when the partition sent
    * none) AND a partial malformed count the driver sums. The fusion
    * replaces an Observation on the parse: observation metrics are
    * per-execution, so a concurrent job materializing the same cache
    * could complete them with a partial (even empty) count — an
    * aggregation is deterministic no matter which execution fills the
    * cache.
    */
  def partitionMaximaWithMalformed(parsed: DataFrame,
      checkpoint: Position): DataFrame = {
    val hbStep = col("env.resolved").getItem(0)
    val hbTx = col("env.resolved").getItem(1)
    val isHb = col("isHeartbeat") && !col("isMalformed") &&
      posGt(hbStep, hbTx, checkpoint)
    parsed.groupBy(col("tableId"), col("partitionId"))
      .agg(
        max(when(isHb, struct(ux(hbStep).as("us"), ux(hbTx).as("ut"),
          hbStep.as("step"), hbTx.as("txId")))).as("m"),
        sum(when(col("isMalformed"), 1L).otherwise(0L)).as("nMal"))
      .select(col("tableId"), col("partitionId"),
        col("m.step").as("step"), col("m.txId").as("txId"), col("nMal"))
  }
}
