package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every entry point (Verify, Bench, tests)
  * builds its session here so configs stay consistent.
  *
  * It also replaces Hadoop's `file:` FileSystem with
  * [[ForkFreeLocalFileSystem]]: without the Hadoop native library
  * (Spark does not ship it) the stock one forks a `chmod` process for
  * every file, `.crc` sidecar and directory it writes — about 100 per
  * CDC engine commit, 1.5 ms each. Hadoop caches FileSystems without
  * their conf, so this holds only when the JVM's first `file:`
  * FileSystem is created through a session built here;
  * `CdcEngine.bootstrap` reports a forking one.
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's parallelism-first coalescing floors post-shuffle
      // partitions at minPartitionSize (default 1 MB) — which
      // collapses a SMALL-BYTES but COMPUTE-DENSE exchange (candidate
      // pairs carrying set arrays into a Jaccard verify, probe hits
      // into a popcount verify) onto one task. 16 KB keeps such
      // stages parallel while leaving any real-scale shuffle
      // untouched: the floor only binds when totalBytes/parallelism
      // is under it, i.e. kilobyte-scale exchanges. Measured r17:
      // doc_minhash_recall 13.3s -> 4.9s, no regressions elsewhere.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16KB")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader refuses by default; read it as a long of nanoseconds
      // (pairs with DuckDB's epoch_ns on the oracle side).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .config(ForkFreeLocalFileSystem.ConfKey,
        classOf[ForkFreeLocalFileSystem].getName)

  /** Spark's JVM-wide cache of compiled generated classes: a static
    * conf, read once when the JVM first generates code. At its default
    * of 100 entries the CDC engine's generated classes (about 290 for
    * 3 tables, [[graft.streaming.CdcEngine.codegenWorkingSet]]) are
    * evicted between batches, and every batch recompiles its plans
    * with Janino. 1024 holds a 14-table engine by that census.
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 1024

  /** Compilations of generated code in this JVM so far, and their
    * summed compile time in nanoseconds. JVM-wide: the difference over
    * an interval counts every session's compiles in that interval.
    */
  def codegenTotals(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def get(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
