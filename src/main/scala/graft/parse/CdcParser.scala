package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC JSON envelope parsing — a native one-pass expression
  * ([[graft.functions.NativeExpressions.CdcEnvelopeExpr]]) plus
  * declarative column ops, so the whole parse stays inside codegen
  * with no per-row generic-parser machinery.
  *
  * Wire format (reference: internal/util/reader/parse.go:13-23):
  *   change:    {"update":{col:val,...}|"erase":{}, "newImage":{...}?,
  *               "key":[v1,...], "ts":[step,txId]}
  *   heartbeat: {"resolved":[step,txId]}
  * One topic carries both shapes; we dispatch on which field is non-null.
  * Rules re-expressed from parse.go:25-85:
  *   - `update` and `erase` are mutually exclusive;
  *   - `newImage` is preferred over `update` when present;
  *   - `ts`/`resolved` must have exactly two elements;
  *   - erase carries no columns.
  */
object CdcParser {

  /** Raw values stay as JSON text until the destination schema drives a
    * typed cast (the reference converts with the *destination* type
    * matrix, not the message: dst_table/gen_query.go:122-293).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("update", MapType(StringType, StringType)),
    StructField("erase", MapType(StringType, StringType)),
    StructField("newImage", MapType(StringType, StringType)),
    StructField("key", ArrayType(StringType)),
    StructField("ts", ArrayType(LongType)),
    StructField("resolved", ArrayType(LongType))
  ))

  /** Parse a frame of raw messages.
    *
    * Input columns: `value` (JSON string), `tableId` (int),
    * `partitionId` (long), `offset` (long, per-partition arrival order).
    * Output adds: `env` (struct), `isHeartbeat`, `isMalformed`.
    *
    * The parse itself is the native one-pass
    * [[graft.functions.NativeExpressions.CdcEnvelopeExpr]] — semantics
    * equal from_json(PERMISSIVE) on [[envelopeSchema]]
    * (equivalence-tested in CdcParserSpec incl. malformed shapes),
    * except that ts/resolved elements in [2^63, 2^64) parse as uint64.
    * A frame of driver rows is parsed in tasks, not by the optimizer
    * on the driver (GraftShims.onExecutors).
    */
  def parseEnvelope(raw: DataFrame): DataFrame =
    parseWith(org.apache.spark.sql.graft.GraftShims.onExecutors(raw),
      graft.functions.NativeExpressions.cdcEnvelopeNative(col("value")))

  /** from_json twin, kept for the equivalence spec (it rejects
    * ts/resolved elements of 2^63 and above).
    */
  def parseEnvelopeBuiltin(raw: DataFrame): DataFrame =
    parseWith(raw, from_json(col("value"), envelopeSchema))

  private def parseWith(raw: DataFrame, env: Column): DataFrame = {
    raw
      .withColumn("env", env)
      .withColumn("isHeartbeat", col("env.resolved").isNotNull)
      .withColumn("isMalformed",
        col("env").isNull ||
        (col("env.resolved").isNull && col("env.update").isNull &&
          col("env.erase").isNull && col("env.newImage").isNull) ||
        (col("env.update").isNotNull && col("env.erase").isNotNull) ||
        (col("env.resolved").isNotNull && size(col("env.resolved")) =!= 2) ||
        (col("env.resolved").isNull &&
          (col("env.ts").isNull || size(col("env.ts")) =!= 2 ||
           col("env.key").isNull)))
  }

  /** Change records: one row per mutation with the §1.1 fields. */
  def changes(parsed: DataFrame): DataFrame =
    parsed
      .filter(!col("isHeartbeat") && !col("isMalformed"))
      .select(
        col("tableId"),
        col("partitionId"),
        col("offset"),
        col("env.key").as("keyJson"),
        // newImage wins over update; erase carries no columns
        when(col("env.erase").isNotNull, map().cast(MapType(StringType, StringType)))
          .otherwise(coalesce(col("env.newImage"), col("env.update")))
          .as("columns"),
        col("env.ts").getItem(0).as("step"),
        col("env.ts").getItem(1).as("txId"),
        when(col("env.erase").isNotNull, lit(graft.model.Op.Erase))
          .otherwise(lit(graft.model.Op.Update)).as("op"))

  /** Heartbeats: per-partition resolved positions. */
  def heartbeats(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("isHeartbeat") && !col("isMalformed"))
      .select(
        col("tableId"),
        col("partitionId"),
        col("offset"),
        col("env.resolved").getItem(0).as("step"),
        col("env.resolved").getItem(1).as("txId"))

  /** Malformed frames, for the dead-letter sink. */
  def malformed(parsed: DataFrame): DataFrame =
    parsed.filter(col("isMalformed"))
      .select(col("tableId"), col("partitionId"), col("offset"), col("value"))

  /** Position struct column (unsigned-correct ordering form). */
  def pos(df: DataFrame): Column =
    graft.functions.GraftFunctions.posU(df("step"), df("txId"))
}
