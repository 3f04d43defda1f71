package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.concurrent.TrieMap

/** Metrics vocabulary of the engine — the names mirror the reference's
  * published metric set (internal/pmon/pmon.go, README.md:466-478):
  * modifications_count, mps, commit_latency, quorum_waiting_latency,
  * replication_lag_estimation, per-stream liveness. Exposed as a plain
  * snapshot so any sink (Prometheus registry, StreamingQueryListener
  * log line) can scrape it.
  */
final class EngineMetrics {
  val modificationsCount = new AtomicLong(0)
  val batchesCommitted = new AtomicLong(0)
  val lastCommitLatencyMs = new AtomicLong(0)
  val lastQuorumWaitMs = new AtomicLong(0)
  /** checkpoint position vs newest seen heartbeat (µs estimate). */
  val replicationLagEstimation = new AtomicLong(0)
  val perStreamMods = TrieMap.empty[Int, AtomicLong]
  /** ST6: count of batches that ended without a full heartbeat set
    * for longer than the configured max_expected_heartbeat_interval.
    */
  val hbLivenessWarnings = new AtomicLong(0)
  /** Merge-on-read health: live delta files across all tables after
    * the last commit (read amplification ∝ per-bucket chain length),
    * and how many bucket chains compaction has folded back into base.
    * A deltaFilesLive that only climbs = compaction is not keeping up.
    */
  val deltaFilesLive = new AtomicLong(0)
  val bucketsCompacted = new AtomicLong(0)
  /** Wall time of the commits' fold jobs (due buckets rewritten into
    * base), summed over tables and commits.
    */
  val foldNs = new AtomicLong(0)
  /** Generated classes compiled during batches, and their compile
    * time, summed over batches. A warm batch compiles nothing; a
    * steady climb means the codegen cache evicts the engine's classes
    * (see [[codegenCacheUndersized]]).
    */
  val codegenCompiles = new AtomicLong(0)
  val codegenCompileNs = new AtomicLong(0)
  /** 1 when the session's codegen cache holds fewer entries than the
    * engine's working set of generated classes (set at bootstrap).
    */
  val codegenCacheUndersized = new AtomicLong(0)
  /** 1 when the session's `file:` FileSystem forks a `chmod` process
    * per written file (Hadoop's stock one without its native library;
    * set at bootstrap).
    */
  val localFsForking = new AtomicLong(0)
  val lastError = new AtomicReference[String]("")

  // modifications of the batch in progress, summed over its applyCuts,
  // and of the last committed batch — the numerator of [[mps]]
  private val batchMods = new AtomicLong(0)
  private val lastBatchMods = new AtomicLong(0)

  def addMods(tableId: Int, n: Long): Unit = {
    modificationsCount.addAndGet(n)
    batchMods.addAndGet(n)
    perStreamMods.getOrElseUpdate(tableId, new AtomicLong(0)).addAndGet(n)
  }

  /** A batch begins: modifications of an earlier batch that failed
    * before its commit do not count toward this one.
    */
  def batchStarted(): Unit = batchMods.set(0)

  /** A batch committed after `latencyMs`. */
  def batchCommitted(latencyMs: Long): Unit = {
    batchesCommitted.incrementAndGet()
    lastCommitLatencyMs.set(latencyMs)
    lastBatchMods.set(batchMods.getAndSet(0))
  }

  /** modifications/sec over the last batch. */
  def mps: Double = {
    val ms = lastCommitLatencyMs.get()
    if (ms <= 0) 0.0 else lastBatchMods.get() * 1000.0 / ms
  }

  def snapshot: Map[String, Long] = Map(
    "modifications_count" -> modificationsCount.get(),
    "batches_committed" -> batchesCommitted.get(),
    "commit_latency_ms" -> lastCommitLatencyMs.get(),
    "quorum_waiting_latency_ms" -> lastQuorumWaitMs.get(),
    "replication_lag_estimation" -> replicationLagEstimation.get(),
    "hb_liveness_warnings" -> hbLivenessWarnings.get(),
    "delta_files_live" -> deltaFilesLive.get(),
    "buckets_compacted" -> bucketsCompacted.get(),
    "fold_ms_total" -> foldNs.get() / 1000000L,
    "codegen_compiles_total" -> codegenCompiles.get(),
    "codegen_compile_ms_total" -> codegenCompileNs.get() / 1000000L,
    "codegen_cache_undersized" -> codegenCacheUndersized.get(),
    "local_fs_forking" -> localFsForking.get()
  ) ++ perStreamMods.map { case (k, v) => s"stream_${k}_modifications" -> v.get() }
}
