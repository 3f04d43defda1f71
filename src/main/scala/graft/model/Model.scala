package graft.model

/** Core data model of the CDC replication engine.
  *
  * Semantics re-expressed from the reference engine's data model
  * (see /root/reference internal/types/types.go:24-70): a change stream
  * carries row mutations stamped with a virtual timestamp (step, txId);
  * heartbeats carry per-partition resolved timestamps; the global merge
  * order is the lexicographic order of (step, txId, arrivalOrder).
  */
object Op {
  val Update: Int = 0
  val Erase: Int = 1
  val Unknown: Int = 2
}

/** Virtual timestamp — the engine's only notion of time.
  *
  * Steps and txIds are unsigned 64-bit in the wire format; Scala has no
  * unsigned Long, so we store the raw bit pattern and compare through
  * [[Position.ux]] (bit-flip trick: x ^ Long.MinValue is monotone in the
  * unsigned order). Reference semantics: types.go:68-70 (LessThan).
  */
final case class Position(step: Long, txId: Long) {
  def lessThan(o: Position): Boolean = {
    val s0 = Position.ux(step); val s1 = Position.ux(o.step)
    s0 < s1 || (s0 == s1 && Position.ux(txId) < Position.ux(o.txId))
  }
  def lessOrEqual(o: Position): Boolean = this == o || lessThan(o)
}
object Position {
  /** Maps unsigned-64 order onto signed-64 order. */
  @inline def ux(x: Long): Long = x ^ Long.MinValue
  val Zero: Position = Position(0L, 0L)
  implicit val ordering: Ordering[Position] =
    Ordering.by(p => (ux(p.step), ux(p.txId)))
}

/** One CDC row mutation.
  *
  * `columns` maps column name -> raw JSON value text (destination schema
  * drives the typed conversion, not the message); `keyJson` is the
  * positional primary key as raw JSON value texts.
  * Reference semantics: types.go:24-32.
  */
final case class ChangeRecord(
    tableId: Int,
    partitionId: Long,
    offset: Long,              // source offset; also the arrival tie-break
    keyJson: Seq[String],
    columns: Map[String, String],
    step: Long,
    txId: Long,
    op: Int) {
  def position: Position = Position(step, txId)
}

/** Per-partition resolved timestamp. Reference semantics: types.go:49-54. */
final case class Heartbeat(
    tableId: Int,
    partitionId: Long,
    offset: Long,
    step: Long,
    txId: Long) {
  def position: Position = Position(step, txId)
}

/** Replication lifecycle stage (state table `stage` column). */
object Stage {
  val InitialScan = "INITIAL_SCAN"
  val Run = "RUN"
}

/** State table `state` column values. */
object EngineState {
  val Ok = "OK"
  val Fatal = "FATAL_ERROR"
}

/** Replication checkpoint row — one per instance, stored transactionally
  * with every applied batch (the effectively-once invariant).
  */
final case class ReplicationState(
    id: String,
    stepId: Long,
    txId: Long,
    state: String,
    stage: String,
    lastMsg: String) {
  def position: Position = Position(stepId, txId)
}

/** What to do with a change that arrives out of order
  * (older than its partition's last heartbeat).
  */
sealed trait ProblemStrategy
object ProblemStrategy {
  case object Stop extends ProblemStrategy     // persist FATAL, fail the query
  case object Continue extends ProblemStrategy // route to DLQ, keep going
  case object CmdQueue extends ProblemStrategy // consult the command topic
}

/** One configured source stream (topic analog): a directory (or Kafka
  * topic) of CDC JSON with a known partition count and a destination
  * table name. `problemStrategy` is this stream's late-change policy
  * (reference: per-stream problem_strategy, config.go
  * verifyStreamProblemStrategy); None inherits
  * [[EngineConfig.problemStrategy]].
  */
final case class StreamConfig(
    tableId: Int,
    srcPath: String,
    dstTable: String,
    partitions: Int,
    problemStrategy: Option[ProblemStrategy] = None)

final case class EngineConfig(
    instanceId: String,
    streams: Seq[StreamConfig],
    dstRoot: String,
    // default late-change policy for streams that don't set their own
    problemStrategy: ProblemStrategy = ProblemStrategy.Stop,
    maxBatchSize: Int = 1000,     // initial-scan per-txn cap
    buckets: Int = 64,            // destination bucket count
    // The destination is merge-on-read: each commit appends its LWW
    // patch as per-bucket delta files, so steady-state bytes written
    // per commit scale with the PATCH, not the table. A bucket is due
    // when its chain already holds compactDeltas - 1 files: the next
    // commit folds its base, chain and that commit's patch rows into
    // new base files instead of appending, so a bucket folds every
    // compactDeltas-th commit and a chain never outgrows
    // compactDeltas - 1 files (read amplification; read-side merge
    // work ∝ chain length). A due bucket folds whether or not the
    // commit touches it, so an untouched bucket can fold one commit
    // earlier than a delta-per-commit count would. 1 (or less) folds
    // every touched bucket at every commit: copy-on-write.
    compactDeltas: Int = 8,
    // ST6 liveness guard (reference max_expected_heartbeat_interval,
    // hb_tracker.go:76-126): warn when no FULL heartbeat set has been
    // seen for this long. 0 disables the guard.
    maxExpectedHbIntervalMs: Long = 0L,
    // standby mode (reference multiple_instances_mode): instead of
    // failing bootstrap when another instance holds the lease, wait
    // for it up to standbyMaxWaitMillis
    multipleInstancesMode: Boolean = false,
    standbyMaxWaitMillis: Long = 600000L,
    // monitoring endpoint (reference mon_server): Some(0) = any free
    // port; None = no server
    monPort: Option[Int] = None)
