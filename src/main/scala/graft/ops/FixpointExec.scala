package graft.ops

import org.apache.spark.sql.SparkSession

/** Execution regime for the round loops of iterative operators
  * (connected components, PageRank, Bradley-Terry): each round is a
  * join + aggregation over a driver-known, usually tiny state, where
  * per-round ADAPTIVE re-planning and session-width shuffles cost
  * far more wall time than the data (measured r17: AQE off alone is
  * 11–26% off the whole query on the fixpoint-heavy oracle rows).
  * The regime is [[graft.GraftSession.withLowLatency]], the one the
  * CDC engine runs its small batches in, gated by measured state size
  * with the driver routes' work ceiling ([[DriverRoute.MaxWork]]): a
  * loop whose per-round shuffle exceeds it keeps the session's full
  * AQE + width, and reads no setting.
  */
object FixpointExec {

  /** Rows per shuffle partition when the regime engages — wide
    * enough that even the ceiling keeps partitions ≥ 100k rows, so
    * the flip never creates giant single tasks.
    */
  private val RowsPerPart = 100000L

  /** Run `f` under the low-latency regime when `shuffledRows` (the
    * largest per-round shuffle the loop will do — edge rows for
    * CC/PR/BT) is at most [[DriverRoute.MaxWork]]; otherwise run `f`
    * unchanged.
    */
  def withTinyRounds[T](spark: SparkSession, shuffledRows: Long)(f: => T): T =
    if (shuffledRows > DriverRoute.MaxWork) f
    else graft.GraftSession.withLowLatency(spark, math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      shuffledRows / RowsPerPart + 1L)).toInt)(f)
}
