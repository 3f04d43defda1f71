package graft.streaming

import graft.model._
import graft.order.{BatchOrder, HeartbeatTracker}
import graft.merge.LwwMerge
import graft.parse.CdcParser
import graft.sink.{DstTable, TableMeta, TransactionalStore}
import graft.functions.GraftFunctions.{serializeKey, ux}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The replication engine: CDC frames in, transactionally-applied
  * destination tables out.
  *
  * Control flow re-expressed from the reference's processor loop
  * (internal/processor/processor.go — quorum wait, batch formation,
  * apply, checkpoint) on the micro-batch model: each incoming frame is
  * parsed and gated, changes buffer in a persistent pending store until
  * the heartbeat quorum passes them, and every emission applies all
  * destination tables PLUS the replication checkpoint in one atomic
  * manifest swap. Replay after a crash is made idempotent by the
  * checkpoint filter (changes at/below the stored position are
  * dropped at ingest), so Spark-source replay + the atomic sink =
  * effectively-once apply — the same argument as the reference
  * (README.md:176-193).
  */
final class CdcEngine(
    spark: SparkSession,
    cfg: EngineConfig,
    tables: Map[Int, TableMeta]) {

  import CdcEngine._

  private val root = cfg.dstRoot
  private val expectedParts: Set[(Int, Long)] =
    cfg.streams.flatMap(s => (0 until s.partitions)
      .map(p => (s.tableId, p.toLong))).toSet
  /** Per-stream late-change policy (reference: per-stream
    * problem_strategy dispatch); a stream without its own setting
    * inherits the engine default. A tableId outside the configured
    * streams resolves to Stop — the strict default.
    */
  private val strategyByTable: Map[Int, ProblemStrategy] =
    cfg.streams.map(s =>
      s.tableId -> s.problemStrategy.getOrElse(cfg.problemStrategy)).toMap
  private val continueIds: Seq[Int] =
    strategyByTable.collect { case (t, ProblemStrategy.Continue) => t }.toSeq
  private val cmdQueueIds: Seq[Int] =
    strategyByTable.collect { case (t, ProblemStrategy.CmdQueue) => t }.toSeq
  private val anyCmdQueue: Boolean = cmdQueueIds.nonEmpty
  private val tracker = new HeartbeatTracker(expectedParts)

  /** ST6 gauges: when the engine started waiting for a quorum
    * (-1 = not waiting), and when a full heartbeat set was last seen.
    * Driver-side wall clock, like the reference's hb_tracker timer.
    */
  private var quorumWaitStartNs: Long = -1L
  /** -1 until the first batch: the liveness clock starts when the
    * engine begins consuming, not at construction — bootstrap + first
    * -batch job latency would otherwise trip the guard spuriously.
    */
  private var lastFullHbSetNs: Long = -1L

  /** pmon-analog counters (modifications, mps, latencies). */
  val metrics = new EngineMetrics

  /** Single-writer lease (ST7): renewed each batch, ownership
    * re-verified immediately before every manifest swap.
    */
  private val lock = new graft.sink.LeaseLock(root, cfg.instanceId,
    ttlMillis = 60000L)

  /** Initial-scan sync target: max heartbeat of the first full set
    * (processor.go:600-619). Driver-held, like the reference.
    */
  private var syncTarget: Option[Position] = None

  /** pmon analog: /metrics + /readyz, started by bootstrap when
    * cfg.monPort is set (or explicitly via startMonitoring).
    */
  @volatile var monServer: Option[PmonServer] = None

  def startMonitoring(port: Int): PmonServer = {
    val s = PmonServer.start(port, metrics,
      ready = () => lock.verifyHeld() &&
        TransactionalStore.read(root).state.state == EngineState.Ok)
    monServer = Some(s)
    s
  }

  def bootstrap(): Unit = {
    TransactionalStore.initIfAbsent(root, cfg.instanceId, tables.values.map(_.name).toSeq)
    // multiple_instances_mode (main.go:421-427): standby instances
    // wait on the lock instead of failing
    val got =
      if (cfg.multipleInstancesMode)
        lock.awaitAcquire(cfg.standbyMaxWaitMillis, pollMillis = 200L)
      else lock.tryAcquire()
    if (!got)
      throw new IllegalStateException(
        s"another instance holds the lease for $root")
    cfg.monPort.foreach(startMonitoring)
  }

  def state: ReplicationState = TransactionalStore.read(root).state

  /** Resolve a table's meta and read it out of `man` — the one
    * snapshot-read tail readTable/readTableAt/lookup share, so table
    * resolution cannot drift between head and time-travel reads.
    */
  private def readFrom(man: TransactionalStore.Manifest, name: String,
      buckets: Option[Set[Int]] = None): DataFrame = {
    val meta = tables.values.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown table $name"))
    DstTable.readCurrent(spark, meta, man.tables(name), buckets)
  }

  /** Read a destination table's committed contents. */
  def readTable(name: String): DataFrame =
    readFrom(TransactionalStore.read(root), name)

  /** The store's committed manifest version (advances once per
    * transaction; the argument [[readTableAt]] accepts).
    */
  def storeVersion: Long = TransactionalStore.read(root).version

  /** Time-travel read: the table as of a PAST committed manifest —
    * the reference's state select (S8) extended with the snapshot
    * isolation the manifest layout gives for free: every commit's
    * file list is immutable, so any retained version replays as a
    * consistent table. Versions older than the vacuum retention
    * window are refused (TransactionalStore.readAt).
    */
  def readTableAt(name: String, version: Long): DataFrame =
    readFrom(TransactionalStore.readAt(root, version), name)

  /** Point-read: the committed rows for a key set, scanning ONLY the
    * buckets those keys hash into. `keys` carries the table's
    * primary-key columns (extra columns are ignored). The probed
    * bucket set costs O(#keys) on the driver, the manifest prunes the
    * file list to those buckets BEFORE the scan is planned (no
    * footer reads for the rest of the table), and the final refine is
    * a broadcast semi-join against the keys. This is the serving path
    * for "fetch these ids" against a large destination table: the
    * bytes read scale with #probed buckets / buckets, not with table
    * size — the same contract as the reference's key-addressed
    * destination reads (dst_table rows are always fetched by primary
    * key), kept under Spark's CoW layout.
    */
  def lookup(name: String, keys: DataFrame): DataFrame = {
    val meta = tables.values.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown table $name"))
    val pk = meta.primaryKey
    val k = keys.select(pk.map(col): _*).distinct()
    val probed = k.select(DstTable.bucketOf(meta, cfg.buckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    readFrom(TransactionalStore.read(root), name, Some(probed))
      .join(broadcast(k), pk, "left_semi")
  }

  /** Process one frame of raw messages. Columns: value (JSON line),
    * tableId, partitionId, offset. Batch mode calls this directly;
    * streaming calls it from foreachBatch.
    */
  def processBatch(raw: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    metrics.batchStarted()
    var man = TransactionalStore.read(root)
    if (man.state.state != EngineState.Ok)
      throw new IllegalStateException(
        s"refusing to run: stored state is ${man.state.state} (${man.state.lastMsg})")
    val checkpoint = man.state.position
    val chainsBefore = man.tables.iterator.flatMap { case (n, tv) =>
      tv.deltaFiles.keysIterator.map(b => (n, b))
    }.toSet

    val phases = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var tp = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - tp) / 1e9
      tp = now
    }

    // dead-letter malformed frames. Stop/Continue defer the write
    // behind the malformed count that rides the heartbeat-maxima
    // aggregation (one fused full-scan job), so the common
    // zero-malformed batch spends NO job here; CmdQueue writes
    // eagerly because its command resolution must settle before
    // emission anyway.
    val parsedCached = CdcParser.parseEnvelope(raw).persist()
    def writeMalformedDlq(): Unit =
      appendDlq(CdcParser.malformed(parsedCached)
        .withColumn("reason", lit("malformed")))
    if (anyCmdQueue) writeMalformedDlq()
    var cleanupFn: () => Unit = () => ()
    val releaseCaches = scala.collection.mutable.ListBuffer.empty[() => Unit]
    try {
      // Lineage cut (see the pending-set cut below for the rationale):
      // everything downstream of the parse plans over a LogicalRDD
      // leaf; only the fused heartbeat-maxima/malformed-count job
      // re-plans the full source→parse pipeline, once.
      val parsed = spark.createDataFrame(parsedCached.rdd,
        parsedCached.schema)

      // checkpoint filter (P3): drop already-applied positions at ingest
      val changesAll = CdcParser.changes(parsed)
        .filter(BatchOrder.posGt(col("step"), col("txId"), checkpoint))
      val hbs = CdcParser.heartbeats(parsed)
        .filter(BatchOrder.posGt(col("step"), col("txId"), checkpoint))
      phase("parse+dlq")

      // per-partition order verification (P4/ST3). No job runs here:
      // the late-count rides an Observation through the working-set
      // materializer (the SOLE pre-emission action whose plan contains
      // the CollectMetrics node), and the gate fires before anything
      // commits.
      val carried = trackerSnapshotDF()
      val tagged = BatchOrder.tagLate(changesAll, hbs, carried)
      val Resolved(changes, lateGate, cleanup) = resolveLate(tagged)
      cleanupFn = cleanup
      phase("order-verify")

      // key filter (P5): blocked keys are a broadcast anti-join
      // (bloom-split above the size gate; its cache joins the batch's
      // release list)
      val filtered = applyKeyFilter(changes, f => { releaseCaches += f; () })
      phase("key-filter")

      // Working-set declaration. Everything below needs only the
      // pre-batch tracker snapshot (already captured in `carried`), so
      // its stats ride the same fused pre-emission job as heartbeat
      // tracking.
      val incoming = filtered.select(pendingSchema.fieldNames.map(col): _*)
      val unioned = pendingDF(man).unionByName(incoming)
      val pendingCached = (if (batchId > man.lastBatchId) unioned
        else unioned.dropDuplicates("tableId", "partitionId", "offset"))
        .persist()
      releaseCaches += (() => { pendingCached.unpersist(); () })

      // ONE full-scan job for everything the batch must know before
      // emission — the per-partition heartbeat maxima fused with the
      // malformed count (over the parse) UNIONED with the working-set
      // stats (count + max(position) + min(ux step) over the pending
      // cache). A single action means:
      //  - the late-count Observation completes exactly once with
      //    full counts (the old two-racing-futures shape could not
      //    put the malformed count on an Observation precisely
      //    because a concurrent job filling the same cache would
      //    complete it partially — with one action the hazard is
      //    gone);
      //  - the parse cache is materialized by the same job that
      //    consumes it (the union's two branches share the cached
      //    parse blocks; independent stages still run concurrently
      //    inside the one job);
      //  - a fixture-sized batch pays ONE job-scheduling floor here,
      //    not two. The phase label says what the time IS: the
      //    one-time JSON parse + the pre-emission aggregates — the
      //    old log filed all of it under "hb-track" and pointed the
      //    profile at the wrong suspect (driver-side tracking is
      //    microseconds).
      val hbAgg =
        BatchOrder.partitionMaximaWithMalformed(parsed, checkpoint)
      val statAgg = pendingCached.agg(
        count(lit(1)).as("n"),
        max(struct(ux(col("step")).as("s"), ux(col("txId")).as("t"),
          col("step"), col("txId"))).as("m"),
        min(ux(col("step"))).as("mn"))
      val hbT = org.apache.spark.sql.types.StructType(hbAgg.schema.fields)
      val stT = org.apache.spark.sql.types.StructType(statAgg.schema.fields)
      val fusedRows = hbAgg
        .select(struct(col("*")).as("hb"), lit(null).cast(stT).as("st"))
        .unionByName(statAgg.select(
          lit(null).cast(hbT).as("hb"), struct(col("*")).as("st")))
        .collect()
      var nMalformed = 0L
      var statRow: org.apache.spark.sql.Row = null
      fusedRows.foreach { r =>
        if (!r.isNullAt(0)) {
          val hb = r.getStruct(0)
          nMalformed += hb.getAs[Long]("nMal")
          if (!hb.isNullAt(hb.fieldIndex("step")))
            tracker.add(hb.getAs[Int]("tableId"),
              hb.getAs[Long]("partitionId"),
              Position(hb.getAs[Long]("step"), hb.getAs[Long]("txId")))
        } else statRow = r.getStruct(1)
      }
      phase("parse-scan-agg")
      // deferred malformed DLQ write — still before emission and any
      // commit
      if (!anyCmdQueue && nMalformed > 0L)
        writeMalformedDlq()
      // the order gate fires HERE — the materializer full-scanned the
      // observed subtree, and nothing has committed or mutated yet
      lateGate()
      // newest heartbeat BEFORE quorum eviction — feeds the lag gauge
      val newestHb = tracker.maxHb

      // ST6 liveness guard (hb_tracker.go:76-126): warn when no full
      // heartbeat set has been seen within the configured interval
      if (tracker.fullSet || lastFullHbSetNs < 0) lastFullHbSetNs = System.nanoTime()
      else if (cfg.maxExpectedHbIntervalMs > 0 &&
          (System.nanoTime() - lastFullHbSetNs) / 1000000L > cfg.maxExpectedHbIntervalMs) {
        val missing = (expectedParts -- tracker.snapshot.keySet).toSeq.sorted
        metrics.hbLivenessWarnings.incrementAndGet()
        log(s"WARN no full heartbeat set for >${cfg.maxExpectedHbIntervalMs}ms; " +
          s"missing=${missing.take(8).mkString(",")}" +
          (if (missing.size > 8) s" (+${missing.size - 8} more)" else ""))
      }

      // ST6 quorum-wait gauge: how long emission was gated on the
      // watermark. Within-batch quorums report ~0 — there was no wait.
      tracker.quorum match {
        case Some(_) =>
          if (quorumWaitStartNs >= 0) {
            metrics.lastQuorumWaitMs.set(
              math.max(1L, (System.nanoTime() - quorumWaitStartNs) / 1000000L))
            quorumWaitStartNs = -1L
          } else metrics.lastQuorumWaitMs.set(0L)
        case None =>
          if (quorumWaitStartNs < 0) quorumWaitStartNs = t0
      }

      // The working set = previously stored pending ∪ this batch's
      // gated changes (declared above, materialized by the concurrent
      // stat job). Durability note: the incoming batch itself does NOT
      // need to hit the pending store before emission — if we crash
      // before the manifest commit, Spark replays the source batch;
      // only rows carried over from already-committed batches must
      // live in files, and those are exactly the remainder the
      // emission paths write. dropDuplicates on the source coordinates
      // runs only when this batch id could have been seen before
      // (Spark assigns each source offset range to exactly one batch
      // id): a replayed frame can re-deliver rows already sitting in
      // the stored pending buffer.
      //
      // Lineage cut: every emission action plans over a LogicalRDD
      // leaf instead of the full source→parse→union tree. The RDD
      // keeps its recompute lineage (fault-tolerant) and scans the
      // cache populated above; the driver stops re-analyzing the whole
      // pipeline for each of the ~6 jobs emission runs — this is what
      // holds the per-micro-batch fixed floor down.
      val pendingAll = spark.createDataFrame(pendingCached.rdd, pendingSchema)
      phase("pending-union")

      // emission loop (ST2/ST5). Small working sets run in the
      // low-latency regime (see CdcEngine.SmallBatchRows), with a
      // shuffle width that scales with the set: ~25k rows per task,
      // so a near-empty steady-state batch plans ONE task while a
      // 250k-row batch still merges 10-wide.
      val nPending = statRow.getLong(0)
      val small = nPending <= CdcEngine.SmallBatchRows
      val lowLatParts = math.max(1L, math.min(32L, nPending / 8000L + 1L)).toInt
      withLowLatency(small, lowLatParts) {
        man = if (man.state.stage == Stage.InitialScan)
          initialScan(man, pendingAll, batchId, statRow)
        else emitBelowQuorum(man, pendingAll, batchId)
      }
      phase("emit")

      // owner check inside the transaction (ST7): the lease must still
      // be ours at the moment the commit becomes visible
      lock.tryAcquire()
      if (!lock.verifyHeld())
        throw new IllegalStateException("lost the writer lease; aborting commit")
      TransactionalStore.commit(root, man.copy(version = man.version + 1,
        fencingToken = lock.heldToken.getOrElse(0L),
        lastBatchId = math.max(batchId, man.lastBatchId)))
      metrics.batchCommitted((System.nanoTime() - t0) / 1000000L)
      // merge-on-read health: live chain files + chains folded away
      // this commit (O(#buckets) driver bookkeeping off the manifest)
      val chainsAfter = man.tables.iterator.flatMap { case (n, tv) =>
        tv.deltaFiles.keysIterator.map(b => (n, b))
      }.toSet
      metrics.deltaFilesLive.set(man.tables.valuesIterator
        .flatMap(_.deltaFiles.valuesIterator).map(_.size.toLong).sum)
      metrics.bucketsCompacted.addAndGet(
        (chainsBefore -- chainsAfter).size.toLong)
      // ST6: checkpoint vs newest-seen heartbeat, in µs of stream time
      newestHb.foreach(m => metrics.replicationLagEstimation.set(
        math.max(0L, m.step - man.state.stepId)))
      phase("commit")
      log(s"batch=$batchId commit v${man.version + 1} stage=${man.state.stage} " +
        s"checkpoint=(${man.state.stepId},${man.state.txId}) " +
        f"latency=${(System.nanoTime() - t0) / 1e9}%.3fs " +
        phases.map { case (n, sec) => f"$n=$sec%.2f" }.mkString(" "))
    } finally {
      cleanupFn()
      releaseCaches.foreach(_())
      parsedCached.unpersist()
    }
  }

  // ---- emission ----

  /** Run `f` with AQE disabled and one shuffle partition — the right
    * execution regime for a tiny working set, where per-stage adaptive
    * replanning and 32-way shuffles cost far more wall time than the
    * data. The engine owns its session while a batch is in flight
    * (foreachBatch serializes batches), so the temporary session-conf
    * flip cannot race another engine query.
    */
  private def withLowLatency[T](enable: Boolean, parts: Int = 1)(f: => T): T =
    if (!enable) f
    else {
      val conf = spark.conf
      val aqe = conf.getOption("spark.sql.adaptive.enabled")
      val sp = conf.getOption("spark.sql.shuffle.partitions")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", parts.toString)
      try f
      finally {
        aqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
          conf.set("spark.sql.adaptive.enabled", _))
        sp.fold(conf.unset("spark.sql.shuffle.partitions"))(
          conf.set("spark.sql.shuffle.partitions", _))
      }
    }

  /** Empty pending frame as a LOCAL relation — provably empty to the
    * optimizer, which lets applyCut skip the remainder write.
    */
  private def emptyPending(): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      pendingSchema)

  private def pendingDF(man: TransactionalStore.Manifest): DataFrame =
    if (man.pendingFiles.isEmpty) emptyPending()
    else spark.read.schema(pendingSchema).parquet(man.pendingFiles: _*)

  /** RUN stage: emit everything strictly below the quorum, atomically.
    * With no quorum, the whole working set becomes the new durable
    * pending store.
    */
  private def emitBelowQuorum(man0: TransactionalStore.Manifest,
      pending: DataFrame, batchId: Long): TransactionalStore.Manifest = {
    tracker.quorum match {
      case None =>
        storePending(man0, pending, s"nq$batchId")
      case Some(q) =>
        val cut = pending.filter(BatchOrder.posLt(col("step"), col("txId"), q))
        val rest = pending.filter(!BatchOrder.posLt(col("step"), col("txId"), q))
        val man1 = applyCut(man0, cut, rest, q, man0.state.stage)
        tracker.commit(q)
        man1
    }
  }

  /** Persist the working set as the new pending file list (replaces
    * the previous list — the set already contains it).
    */
  private def storePending(man: TransactionalStore.Manifest,
      pending: DataFrame, tag: String): TransactionalStore.Manifest = {
    // unconditional write: an empty set writes an empty part file
    // (harmless to read back). The alternative — isEmpty — would cost
    // an extra partial-scan job just to detect emptiness.
    val dir = s"$root/pending/p${tag}_v${man.version}"
    pending.write.mode("overwrite").parquet(dir)
    man.copy(pendingFiles = TransactionalStore.partFiles(dir))
  }

  /** INITIAL_SCAN stage (ST5): apply in capped chunks regardless of
    * quorum; once the first full heartbeat set is seen, remember its
    * max; the first quorum strictly above that max is the sync point —
    * emit below it and flip to RUN.
    */
  private def initialScan(man0: TransactionalStore.Manifest,
      pending: DataFrame, batchId: Long,
      statRow: Row): TransactionalStore.Manifest = {
    if (syncTarget.isEmpty && tracker.fullSet) syncTarget = tracker.maxHb
    var man = man0
    syncTarget.flatMap(tracker.quorumAfter) match {
      case Some(q) =>
        // sync point reached: final initial-scan emission, stage → RUN
        val cut = pending.filter(BatchOrder.posLt(col("step"), col("txId"), q))
        val rest = pending.filter(!BatchOrder.posLt(col("step"), col("txId"), q))
        val man1 = applyCut(man, cut, rest, q, Stage.Run)
        tracker.commit(q)
        man1
      case None =>
        // drain the working set in merge-ordered chunks of maxBatchSize.
        // Fast path first: the caller's materializer stats (count, max
        // position, min ux step — one job) decide whether the whole set
        // fits one chunk — the common case with a large cap — so the
        // chunking sketch only runs when chunking is real.
        var remaining = pending
        var done = false
        val total = statRow.getLong(0)
        if (total == 0) {
          man = storePending(man, remaining, s"is$batchId")
          done = true
        } else if (total <= cfg.maxBatchSize) {
          val m = statRow.getStruct(1)
          val hi = Position(m.getLong(2), m.getLong(3))
          // rest is empty by construction (hi is the max position) — an
          // explicit empty LOCAL relation lets applyCut prove it and
          // skip the remainder write job entirely
          man = applyCut(man, remaining, emptyPending(), hi,
            Stage.InitialScan)
          done = true
        }
        if (!done) {
          // RANGE chunking, no global sort: the old loop re-ran a full
          // merge sort + limit PER CHUNK. Boundaries now come from one
          // approximate quantile sketch of the unsigned step; each
          // chunk is a filter plus an exact local max aggregation. The
          // cap becomes approximate (sketch error, and every txId of a
          // boundary step lands in one chunk) — fine, because it is a
          // memory guard, not an exactness contract (reference:
          // bounded pop, tx_queue.go).
          def stats(df: DataFrame): Row = df.agg(
            count(lit(1)).as("n"),
            max(struct(ux(col("step")).as("s"), ux(col("txId")).as("t"),
              col("step"), col("txId"))).as("m")).head()
          val nChunks = math.max(2,
            math.ceil(total.toDouble / cfg.maxBatchSize).toInt)
          val probs = (1 until nChunks).map(_.toDouble / nChunks).toArray
          // sketch over (ux(step) − min): raw ux sits near ±2⁶³ where a
          // double's ulp is 2048, which would quantize boundaries; the
          // offset domain starts at 0 and is exact for any realistic
          // position span
          val minUx = statRow.getLong(2)
          val bounds = remaining
            .withColumn("__p", (ux(col("step")) - minUx).cast("double"))
            .stat.approxQuantile("__p", probs, 0.01)
            .map(_.toLong).distinct.sorted
          for (ub <- bounds) {
            // parameterized bounds (not literals): every chunk's filter
            // compiles to the same generated source → one codegen for
            // the whole drain
            val pUb = graft.functions.NativeExpressions.paramLong(ub)
            val pMin = graft.functions.NativeExpressions.paramLong(minUx)
            val cut = remaining.filter(ux(col("step")) - pMin <= pUb)
            val rest = remaining.filter(ux(col("step")) - pMin > pUb)
            val m = stats(cut)
            if (m.getLong(0) > 0L) {
              val mm = m.getStruct(1)
              man = applyCut(man, cut, rest,
                Position(mm.getLong(2), mm.getLong(3)), Stage.InitialScan)
              // stamp lastBatchId on intermediate commits too: a crash
              // after this commit replays the SAME batch id, which must
              // re-enable the pending dedup against the stored remainder
              man = man.copy(version = man.version + 1,
                fencingToken = lock.heldToken.getOrElse(0L),
                lastBatchId = math.max(batchId, man.lastBatchId))
              TransactionalStore.commit(root, man)
              remaining = pendingDF(man)
            }
          }
          // the remainder above the last boundary rides the caller's
          // commit, like the single-chunk fast path
          val m = stats(remaining)
          if (m.getLong(0) > 0L) {
            val mm = m.getStruct(1)
            man = applyCut(man, remaining, emptyPending(),
              Position(mm.getLong(2), mm.getLong(3)), Stage.InitialScan)
          } else man = storePending(man, remaining, s"is$batchId")
          done = true
        }
        man
    }
  }

  /** One transaction: LWW-merge the cut, apply every table's patch,
    * rewrite the pending remainder, advance the checkpoint — all
    * published by a single manifest swap.
    */
  private def applyCut(man: TransactionalStore.Manifest, cut: DataFrame,
      rest: DataFrame, newPos: Position,
      newStage: String): TransactionalStore.Manifest = {
    // the upcoming manifest version tags every file this commit writes,
    // so data dirs are unique per commit and never clobbered on replay
    val commitTag = man.version + 1
    var tc = System.nanoTime()
    def sub(): Double = {
      val now = System.nanoTime(); val s = (now - tc) / 1e9; tc = now; s
    }
    val merged = LwwMerge.merge(cut).persist()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // the remainder write, and each table's apply, are independent
      // jobs into distinct commit-tagged dirs — run them CONCURRENTLY
      // (the first actions race to materialize the merge cache; block
      // -level locks make that safe). Nothing becomes visible until
      // the caller's single manifest swap.
      //
      // PROVABLY-empty remainder (an empty LocalRelation — the
      // initial-scan fast path and the drain's final chunk construct
      // exactly that): skip the write job outright and point the
      // manifest at no pending files — pendingDF reads an empty list
      // as an empty frame, so semantics are unchanged and a
      // steady-state single-chunk batch saves one full write job +
      // commit protocol (§1.2 fewer actions). Data-dependent
      // emptiness still writes unconditionally (detecting it would
      // cost the scan the write already pays).
      val restKnownEmpty = rest.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.isEmpty
        case _ => false
      }
      val restFut =
        if (restKnownEmpty) Future.successful(Seq.empty[String])
        else Future {
        // unconditional write: an empty remainder writes an empty part
        // file, which beats a full pre-scan just to detect emptiness
        val restDir = s"$root/pending/r$commitTag"
        rest.write.mode("overwrite").parquet(restDir)
        TransactionalStore.partFiles(restDir)
      }
      // the modification count rides on each table's applyPatch
      // metadata aggregation — no dedicated count job over the merge
      // shuffle
      val tableFuts = tables.toSeq.map { case (tid, meta) =>
        meta.name -> Future {
          val patch = merged.filter(col("tableId") === tid)
          val (tv, n) = DstTable.applyPatch(spark, root, meta,
            cfg.buckets, man.tables(meta.name), patch, commitTag,
            mergeOnRead = true, compactDeltas = cfg.compactDeltas)
          metrics.addMods(tid, n)
          tv
        }
      }
      val newTables = tableFuts.foldLeft(man.tables) { case (acc, (name, f)) =>
        acc.updated(name, Await.result(f, Duration.Inf))
      }
      val tApply = sub()
      val restFiles = Await.result(restFut, Duration.Inf)
      log(f"applyCut v$commitTag apply=$tApply%.2f rest=${sub()}%.2f")
      man.copy(
        state = man.state.copy(stepId = newPos.step, txId = newPos.txId,
          stage = newStage),
        tables = newTables,
        pendingFiles = restFiles)
    } finally merged.unpersist()
  }

  // ---- problem handling ----

  /** Late (protocol-violating) changes: consult the configured strategy
    * (reference: README.md:418-451).
    *
    * Stop/Continue run OPTIMISTICALLY: the returned frame already
    * excludes late rows, a late COUNT rides an [[Observation]] through
    * the working-set materializer (the one pre-emission action whose
    * plan contains the CollectMetrics node — the emission actions run
    * over the lineage-cut frame and could not complete it), and
    * `lateGate` — called before any emission work, manifest swap or
    * tracker commit — reacts only when the count is nonzero (DLQ +
    * fatal for Stop, DLQ for Continue). The happy path therefore
    * spends ZERO extra jobs on order verification. CmdQueue stays
    * eager: an 'apply' instruction puts late rows back INTO the
    * batch, which must be decided before emission.
    */
  private case class Resolved(changes: DataFrame, lateGate: () => Unit,
      cleanup: () => Unit)

  /** Blocking read of an Observation's metrics. Every caller arranges
    * a FULL-scan action over the observed subtree before reading (a
    * partial scan — limit/isEmpty — would complete the observation
    * with a partial value); the forced count is a never-expected
    * safety net, since Observation offers no public non-blocking
    * probe. Returns every metric as a Long (absent/non-numeric = 0).
    */
  private def awaitObserved(obs: org.apache.spark.sql.Observation,
      observed: DataFrame): Map[String, Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val m =
      try Await.result(Future(obs.get), 30.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          observed.agg(count(lit(1))).head()
          obs.get
      }
    m.map { case (k, v) =>
      k -> (v match { case x: Number => x.longValue(); case _ => 0L })
    }
  }

  private def lateDlqFrame(late: DataFrame, reason: String): DataFrame =
    late.select(col("tableId"), col("partitionId"), col("offset"),
      to_json(struct(col("keyJson"), col("step"), col("txId"))).as("value"))
      .withColumn("reason", lit(reason))

  /** A late row resolves through ITS stream's strategy (per-stream
    * dispatch, like the reference's processor): continue-stream rows
    * go to the DLQ, cmd-queue rows consult the command topic, and a
    * stop-stream row FATALs — a tableId not in the config counts as
    * stop, the strict default.
    */
  private def resolveLate(tagged: DataFrame): Resolved =
    if (anyCmdQueue) {
      // eager path: command resolution must settle before emission
      // anyway, so the per-class splits run as explicit jobs
      val t = tagged.persist()
      val late = t.filter(col("isLate"))
      val lateCont = late.filter(col("tableId").isInCollection(continueIds))
      appendDlq(lateDlqFrame(lateCont, "out-of-order"))
      val lateStop = late.filter(
        !col("tableId").isInCollection(continueIds ++ cmdQueueIds))
      if (!lateStop.isEmpty) {
        appendDlq(lateDlqFrame(lateStop, "out-of-order"))
        persistFatal("out-of-order change; strategy=stop")
        t.unpersist()
        throw new IllegalStateException(
          "FATAL: out-of-order change (strategy=stop)")
      }
      val lateCmd = late.filter(col("tableId").isInCollection(cmdQueueIds))
      val cmds = readCommands()
      val dec = lateCmd.join(cmds,
        lateCmd("tableId") === cmds("cmdTableId") &&
          lateCmd("keyJson") === cmds("cmdKey") &&
          lateCmd("step") === cmds("cmdStep") &&
          lateCmd("txId") === cmds("cmdTxId"),
        "left")
      val undecided = dec.filter(col("action").isNull)
      if (!undecided.isEmpty) {
        persistFatal("out-of-order change with no command-queue instruction")
        t.unpersist()
        throw new IllegalStateException("FATAL: unresolved out-of-order change")
      }
      val skipped = dec.filter(col("action") === "skip")
      appendDlq(lateDlqFrame(skipped, "cmd-skip"))
      val keepLate = dec.filter(col("action") === "apply")
        .select(t.columns.map(col): _*)
      Resolved(t.filter(!col("isLate")).unionByName(keepLate).drop("isLate"),
        () => (), () => { t.unpersist(); () })
    } else {
      // optimistic path: ONE Observation carries both the total late
      // count and the stop-stream late count; the happy path spends
      // zero extra jobs
      val stopCond = col("isLate") &&
        !col("tableId").isInCollection(continueIds)
      val obs = org.apache.spark.sql.Observation()
      val observed = tagged.observe(obs,
        sum(when(col("isLate"), 1L).otherwise(0L)).as("nLate"),
        sum(when(stopCond, 1L).otherwise(0L)).as("nLateStop"))
      val gate = () => {
        val m = awaitObserved(obs, observed)
        if (m.getOrElse("nLate", 0L) > 0) {
          val late = observed.filter(col("isLate"))
          appendDlq(lateDlqFrame(late, "out-of-order"))
          if (m.getOrElse("nLateStop", 0L) > 0) {
            persistFatal("out-of-order change; strategy=stop")
            throw new IllegalStateException(
              "FATAL: out-of-order change (strategy=stop)")
          }
        }
      }
      Resolved(observed.filter(!col("isLate")).drop("isLate"), gate, () => ())
    }

  /** Command topic (S10): JSON lines
    * {"aardapel_instance_id":..,"path":..,"key":[..],"ts":[s,t],
    *  "seq":N,"action":"skip"|"apply"} under root/commands; the
    * instruction with the highest explicit `seq` per conflict wins.
    * (File listing / partition order is NOT a tiebreak — it varies
    * run to run, so "last written" is unknowable once commands span
    * files.) Equal or missing seq resolves deterministically in
    * favor of the lexicographically greatest action ("skip" over
    * "apply": when instructions genuinely conflict, dropping the
    * late change to the DLQ is recoverable; applying it is not).
    */
  private def readCommands(): DataFrame = {
    val dir = java.nio.file.Paths.get(root, "commands")
    val schema = StructType(Seq(
      StructField("aardapel_instance_id", StringType),
      StructField("path", StringType),
      StructField("key", ArrayType(StringType)),
      StructField("ts", ArrayType(LongType)),
      StructField("seq", LongType),
      StructField("action", StringType)))
    val nameById = tables.map { case (tid, m) => m.name -> tid }
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("cmdTableId", IntegerType),
        StructField("cmdKey", ArrayType(StringType)),
        StructField("cmdStep", LongType), StructField("cmdTxId", LongType),
        StructField("action", StringType))))
    if (!java.nio.file.Files.isDirectory(dir)) return empty
    val mapping = typedLit(nameById)
    val all = spark.read.schema(schema).json(dir.toString)
      .filter(col("aardapel_instance_id") === cfg.instanceId)
      .withColumn("cmdTableId", element_at(mapping, col("path")))
      .filter(col("cmdTableId").isNotNull)
    all.groupBy(col("cmdTableId"), col("key").as("cmdKey"),
        col("ts").getItem(0).as("cmdStep"), col("ts").getItem(1).as("cmdTxId"))
      .agg(max_by(col("action"),
        struct(coalesce(col("seq"), lit(0L)).as("s"), col("action").as("a")))
        .as("action"))
  }

  /** Blocked-keys writeback (S12): append serialized keys to the
    * filter table. The reference batches 100 keys per statement
    * (key_filter_ydb.go:24); the parquet append is naturally batched.
    * `keys`: (tableName string, keyJson array<string>).
    */
  def blockKeys(keys: DataFrame): Unit =
    keys.select(serializeKey(col("tableName"), col("keyJson")).as("serializedKey"))
      .write.mode("append").parquet(s"$root/blocked_keys")

  /** Blocked-key filter (P5/J1): anti-join against root/blocked_keys
    * (parquet: serializedKey string). The filter table is broadcast —
    * matching the reference's in-memory key map — only while it fits
    * the session's autoBroadcastJoinThreshold. Past that (millions of
    * blocked keys) the anti-join must shuffle — but shuffling the
    * WHOLE batch against it is almost all waste, because almost no
    * change carries a blocked key. So the scale path splits on a
    * Bloom probe of the blocked set: bloom-negative rows pass without
    * touching the join (no false negatives — a negative is
    * definitively unblocked), and only bloom-positive candidates
    * (true hits + an fpp sliver) enter the exact anti-join. The
    * filter is memoized on the directory's content signature — the
    * table only changes through [[blockKeys]] appends — so the
    * rebuild aggregation runs once per filter-table version, not per
    * micro-batch (the reference holds the key map in memory for the
    * same reason, key_filter.go).
    */
  private[graft] def applyKeyFilter(changes: DataFrame,
      // default: release the branch-shared cache immediately — the
      // persist degrades to a no-op (both union branches recompute)
      // instead of LEAKING a cached partition per call; the engine
      // always passes its per-batch registrar for the real lifecycle
      register: (() => Unit) => Unit = cb => cb()): DataFrame = {
    val dir = java.nio.file.Paths.get(root, "blocked_keys")
    if (!java.nio.file.Files.isDirectory(dir)) return changes
    val nameById = tables.map { case (tid, m) => m.name -> tid }
    val mapping = typedLit(nameById.map(_.swap).map { case (k, v) => (k, v) })
    val withKey = changes.withColumn("__sk",
      serializeKey(element_at(mapping, col("tableId")), col("keyJson")))
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    // signature BEFORE the table read: spark.read.parquet lists the
    // directory eagerly, so reading first and signing second would let
    // a blockKeys append land between the two — a bloom built from the
    // older snapshot memoized under the newer signature would pass the
    // just-blocked key on every batch until the NEXT append
    val (filterBytes, contentSig) = {
      val s = java.nio.file.Files.walk(dir)
      try {
        val files = s.filter(java.nio.file.Files.isRegularFile(_))
          .sorted().iterator()
        var bytes = 0L
        val sig = new StringBuilder
        files.forEachRemaining { p =>
          val sz = java.nio.file.Files.size(p)
          bytes += sz
          sig.append(p.getFileName).append(':').append(sz).append(':')
            .append(java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .append(';')
        }
        (bytes, sig.toString)
      } finally s.close()
    }
    val blocked = spark.read.parquet(dir.toString)
      .select(col("serializedKey").as("__sk"))
    if (threshold > 0 && filterBytes <= threshold)
      withKey.join(broadcast(blocked), Seq("__sk"), "left_anti").drop("__sk")
    else {
      // xxhash64 maps the string key into the long-keyed bloom; a hash
      // collision only sends an extra row through the exact join (the
      // join stays keyed on the string), and xxhash64(null) is the
      // seed, not null, so a null key routes deterministically and
      // survives either branch — same as anti-join semantics
      val bloomBytes = keyFilterBloom match {
        case Some((sig, b)) if sig == contentSig => b
        case _ =>
          // sized to the true key count (no bloom_filter_agg clamp);
          // an empty filter table yields a valid all-negative bloom —
          // every row passes join-free, same as anti-join on empty
          val b = graft.functions.NativeExpressions.buildBloomBytes(
            blocked, xxhash64(col("__sk")), 0.01)
          keyFilterBloom = Some((contentSig, b))
          b
      }
      // the batch subtree feeds BOTH branches of the union — persist
      // it so the pre-filter pipeline (parse cut, late tagging)
      // executes once, not once per branch; the caller's registrar
      // releases it with the batch's other caches
      val wk = withKey.persist()
      register(() => { wk.unpersist(); () })
      val probe = graft.functions.NativeExpressions.bloomMightContain(
        xxhash64(col("__sk")), bloomBytes)
      val pass = wk.filter(!probe)
      val candidates = wk.filter(probe)
        .join(blocked, Seq("__sk"), "left_anti")
      pass.unionByName(candidates).drop("__sk")
    }
  }

  /** Serialized Bloom filter over the blocked-key table, tagged with
    * the file-listing signature it was built from (see
    * [[applyKeyFilter]]).
    */
  @volatile private var keyFilterBloom: Option[(String, Array[Byte])] = None

  private def appendDlq(df: DataFrame): Unit =
    if (!df.isEmpty)
      df.write.mode("append").parquet(s"$root/dlq")

  private def persistFatal(msg: String): Unit = {
    val man = TransactionalStore.read(root)
    TransactionalStore.commit(root, man.copy(version = man.version + 1,
      fencingToken = lock.heldToken.getOrElse(0L),
      state = man.state.copy(state = EngineState.Fatal, lastMsg = msg)))
  }

  private def trackerSnapshotDF(): DataFrame = {
    val rows = tracker.snapshot.toSeq.map { case ((tid, p), pos) =>
      Row(tid, p, pos.step, pos.txId)
    }
    // LocalRelation, not an RDD: the tracker snapshot is O(#partitions)
    // driver state; exact stats let the tagLate join broadcast it and
    // no 1-partition RDD stage ever schedules for it
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("tableId", IntegerType),
        StructField("partitionId", LongType),
        StructField("step", LongType), StructField("txId", LongType))))
  }

  private def log(msg: String): Unit =
    Console.err.println(s"[graft.cdc] $msg")

  // ---- streaming entry ----

  /** Run continuously over the configured stream directories.
    * Each stream dir holds JSON-line files, one message per line, laid
    * out as srcPath/partition=<p>/<file>; the per-partition arrival
    * order is the "offset" field each message carries (the topic-offset
    * analog; the file source itself has no offsets).
    */
  /** Run over ANY streaming frame with columns (value string,
    * tableId int, partitionId long, offset long) — the adapter point
    * for real topic sources. A Kafka stream plugs in as:
    * {{{
    * spark.readStream.format("kafka")...load()
    *   .select(col("value").cast("string"),
    *     lit(tableId).as("tableId"),
    *     col("partition").cast("long").as("partitionId"),
    *     col("offset"))
    * }}}
    */
  def startFromFrames(frames: DataFrame,
      checkpointLocation: String): StreamingQuery =
    frames.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()

  def start(checkpointLocation: String,
      sourceType: String = "directory",
      auth: Option[graft.auth.TokenProvider] = None): StreamingQuery =
    startFromFrames(
      TopicSource.forStreams(spark, cfg.streams, sourceType, auth),
      checkpointLocation)
}

object CdcEngine {
  /** Low-latency emission regime: when a batch's working set has at
    * most this many rows, emission runs with AQE off and ONE shuffle
    * partition — one job per action, one task per stage — instead of
    * the adaptive plan-per-stage machinery that dominates wall time
    * for small batches. Assumes ~100-byte change rows: 250k rows ≈
    * 25 MB, comfortably one task. Large batches (initial scans,
    * catch-up) keep the adaptive path.
    */
  val SmallBatchRows: Long = 250000L

  val pendingSchema: StructType = StructType(Seq(
    StructField("tableId", IntegerType),
    StructField("partitionId", LongType),
    StructField("offset", LongType),
    StructField("keyJson", ArrayType(StringType)),
    StructField("columns", MapType(StringType, StringType)),
    StructField("step", LongType),
    StructField("txId", LongType),
    StructField("op", IntegerType)))
}
