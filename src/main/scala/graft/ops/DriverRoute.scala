package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The one seam for driver routes: operators (union-find CC, PageRank,
  * triangle counting, the MMR greedy walk) that collect a small input
  * and compute on the driver, because each Spark job pays a fixed
  * scheduling cost that a tiny input never pays back.
  *
  * The admission rule, [[admit]], reads no setting: a route runs on
  * the driver when the collect's estimated heap bytes fit a fixed
  * share of the driver heap AND the route's work fits one constant
  * ceiling. Every route keeps its distributed frame formulation as a
  * named function next to the driver one, and the two are
  * equivalence-pinned by tests, so admission changes cost, never
  * answers. The helpers below replay the Spark semantics the driver
  * routes need (string order, `round(x, 0)`) and size the collect.
  */
object DriverRoute {

  /** Heap share a route's collect may take: an eighth of the driver
    * heap (256 MB at a 2 GB heap).
    */
  val MaxBytes: Long = Runtime.getRuntime.maxMemory / 8

  /** Work ceiling of a route, in the route's own unit (edges for CC
    * and PageRank, oriented wedges for triangles, pair rows for MMR):
    * single-threaded driver loops of a few million steps take well
    * under a second.
    */
  val MaxWork: Long = 2000000L

  /** The admission rule: run the driver route when the collect's
    * estimated heap `bytes` and the route's `work` are both within
    * their bounds.
    */
  def admit(bytes: Long, work: Long): Boolean =
    bytes <= MaxBytes && work <= MaxWork

  /** One pass's view of what a collect brings to the driver: its row
    * count, the summed UTF-8 bytes of its id columns (8 per fixed-width
    * id), and the caller's `extra` aggregates.
    */
  final case class Size(rows: Long, idBytes: Long, extra: Row) {
    /** Heap bytes of the collected rows: `perRow` bytes of Row and
      * boxing overhead, plus four times the raw id bytes (UTF-16 chars
      * and String headers).
      */
    def heapBytes(perRow: Long): Long = rows * perRow + 4L * idBytes
  }

  /** The sizing pass: one aggregation over `df` (usually the persisted
    * frame the route would collect, which it also materializes).
    */
  def size(df: DataFrame, ids: Seq[String], extra: Column*): Size = {
    val idBytes = ids.map { c =>
      if (df.schema(c).dataType == StringType) octet_length(col(c))
      else lit(8L)
    }.reduce(_ + _)
    val r = df.agg(count(lit(1)), (sum(idBytes) +: extra): _*).head()
    Size(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      Row.fromSeq(r.toSeq.drop(2)))
  }

  /** Spark's ascending order on ids. Strings compare as UTF8String,
    * byte order (code-point order), not Java's UTF-16 code-unit order:
    * the two disagree when a supplementary character meets
    * U+E000..U+FFFF. Other ids are atomic Comparables whose Java order
    * is Spark's (Long, Int).
    */
  def compareIds(x: Any, y: Any): Int = (x, y) match {
    case (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a).compareTo(
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Spark's `round(x, 0)` on a double: `BigDecimal.valueOf(x)` rounded
    * HALF_UP.
    */
  def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Dense indices for the ids of a collected graph, in first-seen
    * order: `values(apply(v)) == v`.
    */
  final class Interner(expected: Int) {
    private val idx = new java.util.HashMap[Any, Integer](expected * 2)
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    def apply(v: Any): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else {
        idx.put(v, Integer.valueOf(values.length)); values += v
        values.length - 1
      }
    }
  }

  /** Above this many rows, [[frameOf]] falls back to an RDD-backed
    * frame. 64k rows of id/long columns is well under a MB of plan
    * payload, so this is a plan-size guard, not a memory one.
    */
  val LocalRelationMaxRows = 65536

  /** A driver-held row batch as a DataFrame. A LOCAL relation gives
    * the planner exact size statistics, so a downstream join against
    * a small route result broadcasts instead of shuffling both sides
    * (`parallelize` plans with unknown statistics). Above
    * [[LocalRelationMaxRows]] rows it keeps the `parallelize` shape: a
    * LocalRelation embeds its rows in the logical plan. The rows are
    * identical on both shapes.
    */
  def frameOf(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    if (rows.lengthCompare(LocalRelationMaxRows) <= 0) {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    } else {
      val parts = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, rows.length / 25000 + 1))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        schema)
    }
}
