package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One committed batch as the benchmark saw it. `pendingRows` is the
  * engine's pending store after the commit (traced runs only, else 0).
  */
final case class BatchRec(secs: Double, applied: Long, compacted: Boolean,
    freshness: Seq[Double], quorumWait: Seq[Double], pendingRows: Long,
    deltaFiles: Long)

/** What a workload hands back: correctness, operation counts, the
  * samples its metrics are computed from, and diagnostics.
  */
final class Outcome {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  /** Wall clock (ms since the epoch) when the first timed operation
    * started: the end of set-up.
    */
  var timedStartMs = 0L
  val batches = ArrayBuffer.empty[BatchRec]
  val lookups = ArrayBuffer.empty[Double]
  val lookupFiles = ArrayBuffer.empty[Int]
  val scans = ArrayBuffer.empty[Double]
  /** Traced runs: the engine's committed state at the start of the
    * timed section and the frames of its first compaction cycle, which
    * the layer replay starts from and goes through again.
    */
  var timedStartManifest: graft.sink.TransactionalStore.Manifest = _
  val sampleFrames = ArrayBuffer.empty[Array[Msg]]
  var replica: Replica = _
  /** Traced runs: data files under the replica's tables at the start
    * and end of the timed section, and buckets compacted in it.
    */
  var filesAtStart = 0L
  var filesAtEnd = 0L
  var bucketsCompacted = 0L
  val diag = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  private def note(what: String): Unit = if (problems.size < 20) problems += what

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; note(what) }

  /** One operation of the run. One that throws counts as failed (and
    * yields None); one whose output check fails counts as failed and
    * makes the run incorrect.
    */
  def attempt[T](what: String)(op: => T)(verify: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val r = op
      verify(r).foreach { p => failed += 1; check(false, s"$what: $p") }
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        note(s"$what threw $e")
        None
    }
  }
}

/** Shared pieces of a run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val workDir: String, val tracer: Option[Tracer]) {

  /** Run one engine call, recorded as a span when tracing. */
  def span[T](name: String, id: Long)(f: => T): T =
    tracer.fold(f)(_.span(name, id)(f))
}

/** A source feeding the replica: cuts the next frame, commits it and
  * reports what became visible.
  */
private abstract class Writer(ctx: Ctx, val rep: Replica, val gen: Gen,
    val ref: Reference) {
  private val originNs = System.nanoTime()
  private var originUs = gen.nextTick - gen.hbEveryUs
  /** The run's schedule clock in microseconds. */
  def now: Long = originUs + (System.nanoTime() - originNs) / 1000
  protected def shiftClock(us: Long): Unit = originUs += us
  /** Start the timed section: changes created from now on are sampled. */
  def startTimed(): Unit = sampleFrom = now
  var quorum: Option[(Long, Long)] = None
  /** Changes created at or after this schedule time are sampled. */
  protected var sampleFrom: Long = Long.MaxValue
  var keep: Array[Msg] => Unit = _ => ()
  /** Cut time of the frame that carried each transaction not yet
    * visible.
    */
  protected val carried = scala.collection.mutable.LongMap.empty[Long]
  /** Open loop, timed frames: how late each frame was cut behind its
    * schedule, in seconds.
    */
  val late = ArrayBuffer.empty[Double]

  /** The next frame to commit. */
  protected def cut(): Frame
  /** The schedule time a change counts as created. */
  protected def created(c: Change): Long

  def step(): BatchRec = {
    val f = cut()
    val cutUs = now
    keep(f.msgs)
    ref.add(f.changes)
    f.changes.foreach(c => carried.getOrElseUpdate(c.tx, cutUs))
    val df = rep.frame(f.msgs)
    val before = rep.engine.metrics.bucketsCompacted.get
    val secs = ctx.span("processBatch", rep.batchesRun)(rep.process(df))
    val end = now
    quorum = f.quorum
    val visible = quorum.fold(Seq.empty[Change])(q => ref.advanceTo(q._1, q._2))
    val sampled = visible.filter(c => created(c) >= sampleFrom)
    val rec = BatchRec(secs, visible.size.toLong,
      rep.engine.metrics.bucketsCompacted.get > before,
      sampled.map(c => (end - created(c)) / 1e6),
      // from the cut of the frame that carried a change to the cut of
      // the frame whose heartbeats made it visible
      sampled.map(c => (cutUs - carried(c.tx)) / 1e6),
      if (ctx.tracer.isDefined) rep.pendingRows else 0L,
      rep.engine.metrics.deltaFilesLive.get)
    visible.foreach(c => carried -= c.tx)
    rec
  }
}

/** Backlog drain: frames of a fixed span of a log written at a fixed
  * virtual rate, each cut as soon as the previous one has committed.
  * A change counts as created when the frame carrying it is cut.
  */
private final class BacklogWriter(ctx: Ctx, rep: Replica, gen: Gen,
    ref: Reference, frameChanges: Int, txRate: Double)
    extends Writer(ctx, rep, gen, ref) {
  private val spanUs = (frameChanges / Workloads.ChangesPerTx / txRate * 1e6).toLong
  private var vt = gen.nextTick
  protected def cut(): Frame = {
    // warm-up frames (before the timed section) are an eighth of the
    // size: they compile the same plans and warm the JIT at a fraction
    // of the set-up time
    vt += (if (sampleFrom == Long.MaxValue) spanUs / 8 else spanUs)
    gen.until(vt, txRate)
  }
  protected def created(c: Change): Long = carried(c.tx)
}

/** Open loop: transactions fall on a wall-clock schedule at a fixed
  * rate whatever the engine does. Frames cover fixed spans of that
  * schedule, like a fixed-interval trigger: a timed frame is cut when
  * its span has passed, at once if the engine is behind. Warm-up frames
  * are cut back to back.
  */
private final class OpenLoopWriter(ctx: Ctx, rep: Replica, gen: Gen,
    ref: Reference, txRate: Double, frameUs: Long)
    extends Writer(ctx, rep, gen, ref) {
  private var frameEnd = gen.nextTick - gen.hbEveryUs
  protected def cut(): Frame = {
    frameEnd += frameUs
    if (sampleFrom != Long.MaxValue) {
      val wait = frameEnd - now
      late += math.max(0L, -wait) / 1e6
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
    }
    gen.until(frameEnd, txRate)
  }
  /** The timed section starts on schedule, whatever the warm-up left
    * behind: its first frame, the span after the last warm-up frame, is
    * due at once.
    */
  override def startTimed(): Unit = {
    shiftClock(frameEnd + frameUs - now)
    sampleFrom = frameEnd
  }
  protected def created(c: Change): Long = c.createdUs
}

object Workloads {
  /** Compaction cycle: a bucket's delta chain is folded back into its
    * base at this length (engine default: 8). Three lets a run of about
    * a minute span a warm-up cycle and a timed cycle.
    */
  val Cycle = 3
  /** Destination buckets per table (engine default: 64). */
  val Buckets = 8
  /** Generator's mean changes per transaction (30% touch two rows). */
  val ChangesPerTx = 1.3
  /** Lookups (tables in rotation) and full scans after the timed
    * section, after one untimed round of each.
    */
  val Lookups = 3
  val Scans = 1
  /** Minimum warm-up before the timed section. */
  val WarmSeconds = 6.0

  /** catchup: initial load of 20k + 40k + 10k rows, drained in frames
    * big enough that parse, merge and apply outweigh the per-batch
    * fixed cost.
    */
  val CatchupScale = 1.0
  val CatchupFrameChanges = 40000
  val CatchupTxRate = 40000.0
  val CatchupHbUs = 10000L
  /** steady: 3k + 6k + 1.5k rows, 5-second frames of a 300 tx/s log. */
  val SteadyScale = 0.15
  val SteadyTxRate = 300.0
  val SteadyFrameUs = 5000000L
  val SteadyHbUs = 50000L
  val SteadySkew = 6.0

  def apply(name: String): Ctx => Outcome = name match {
    case "catchup" => run(_, "catchup", CatchupScale, skew = 1.0, CatchupHbUs,
      (ctx, rep, gen, ref) => new BacklogWriter(ctx, rep, gen, ref,
        CatchupFrameChanges, CatchupTxRate))
    case "steady" => run(_, "steady", SteadyScale, SteadySkew, SteadyHbUs,
      (ctx, rep, gen, ref) => new OpenLoopWriter(ctx, rep, gen, ref,
        SteadyTxRate, SteadyFrameUs))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every workload: load the replica, warm up to the end of a
    * compaction cycle, run whole cycles for at least the run length,
    * then time lookups and full scans on the just-compacted replica and
    * check everything against the reference replay.
    */
  private def run(ctx: Ctx, name: String, scale: Double, skew: Double,
      hbEveryUs: Long, writer: (Ctx, Replica, Gen, Reference) => Writer): Outcome = {
    val out = new Outcome
    val specs = Tables.specs(scale)
    val rep = new Replica(ctx.spark, specs, s"${ctx.workDir}/$name", Buckets, Cycle)
    out.replica = rep
    val gen = new Gen(ctx.seed, specs, skew, hbEveryUs)
    val ref = new Reference(specs)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    out.diag("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    val init = gen.initialLoad()
    ref.add(init.changes)
    // a processBatch that throws ends the writing: the engine's state
    // is unknown from then on, and the checks below say so
    var writing = out.attempt("initial load")(
      ctx.span("processBatch", rep.batchesRun)(rep.process(rep.frame(init.msgs))))(
      _ => None).isDefined
    // the initial scan applies its whole working set, whatever the quorum
    ref.advanceTo(Gen.Step0, -1L)

    out.diag("load_s") = (System.nanoTime() - t0) / 1e9
    val w = writer(ctx, rep, gen, ref)
    def step(): Option[BatchRec] =
      if (!writing) None
      else {
        val r = out.attempt("processBatch")(w.step())(_ => None)
        writing = r.isDefined
        r
      }
    val warmEnd = System.nanoTime() + (WarmSeconds * 1e9).toLong
    while (writing && !step().exists(_.compacted && System.nanoTime() >= warmEnd)) ()

    out.timedStartMs = System.currentTimeMillis()
    w.startTimed()
    val tracing = ctx.tracer.isDefined
    if (tracing) {
      w.keep = msgs => if (out.sampleFrames.size < Cycle) out.sampleFrames += msgs
      out.filesAtStart = dataFiles(rep)
      out.timedStartManifest = graft.sink.TransactionalStore.read(rep.dstRoot)
    }
    val compacted0 = rep.engine.metrics.bucketsCompacted.get
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    var whole = false
    while (writing && !whole) step().foreach { b =>
      out.batches += b
      whole = b.compacted && System.nanoTime() >= end
    }
    out.bucketsCompacted = rep.engine.metrics.bucketsCompacted.get - compacted0
    if (tracing) out.filesAtEnd = dataFiles(rep)

    // one untimed round of each read first
    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5EEDL)
    for (i <- -specs.size until Lookups)
      lookup(ctx, rep, ref, specs((i + specs.size) % specs.size), rnd, out)
        .foreach(secs => if (i >= 0) out.lookups += secs)
    for (i <- -1 until Scans)
      scan(ctx, rep, ref, out).foreach(secs => if (i >= 0) out.scans += secs)
    verifyState(rep, w.quorum, out)

    if (out.lookups.nonEmpty) out.diag("lookup_p50_s") = Stats.median(out.lookups.toSeq)
    if (out.scans.nonEmpty) out.diag("scan_p50_s") = Stats.median(out.scans.toSeq)
    if (w.late.nonEmpty) out.diag("frame_late_max_s") = w.late.max
    out.diag("batches") = out.batches.size
    out.diag("compacting_batches") = out.batches.count(_.compacted)
    if (out.batches.nonEmpty)
      out.diag("batch_p50_s") = Stats.median(out.batches.map(_.secs).toSeq)
    out
  }

  /** Parquet data files under the replica's tables. */
  private def dataFiles(rep: Replica): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(rep.dstRoot, "tables"))
    try s.filter(p => p.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }

  /** The end-to-end metrics of a finished run, or None when no timed
    * batch committed. Read latencies are reported per layer: a few
    * hundred milliseconds each, they move with the host's load by more
    * than any bound a run could hold.
    */
  def metrics(out: Outcome): Option[Seq[(String, Double, String)]] = {
    val b = out.batches.toSeq
    val fresh = b.flatMap(_.freshness)
    for {
      rate <- Stats.cycleThroughput(b.map(r => (r.applied, r.secs, r.compacted)))
      if fresh.nonEmpty
    } yield Seq(("changes_per_s", rate, "1/s"), ("freshness_p50_s", Stats.median(fresh), "s"))
  }

  /** Read every table in full, materialising all columns, and compare
    * with the reference; returns the read's wall seconds.
    */
  private def scan(ctx: Ctx, rep: Replica, ref: Reference, out: Outcome): Option[Double] = {
    val t0 = System.nanoTime()
    out.attempt("scan")(rep.specs.map(s =>
      s -> ctx.span("readTable", s.id)(rep.engine.readTable(s.name).collect())))(
      all => all.flatMap { case (s, rows) => scanProblem(s, rows, rep, ref) }.headOption)
      .map(_ => (System.nanoTime() - t0) / 1e9)
  }

  private def scanProblem(s: TableSpec, rows: Array[Row], rep: Replica,
      ref: Reference): Option[String] = {
    val got = rep.texts(s, rows)
    val want = ref.table(s.id)
    if (rows.length != got.size) Some(s"${s.name}: duplicate keys")
    else if (got == want) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val differ = (want.keySet & got.keySet).filter(k => want(k) != got(k))
      Some(s"${s.name}: ${missing.size} missing, ${extra.size} extra, " +
        s"${differ.size} differing rows; e.g. " +
        (missing.headOption.map(k => s"missing $k") orElse
          extra.headOption.map(k => s"extra $k") orElse
          differ.headOption.map(k => s"$k want ${want(k)} got ${got(k)}"))
          .getOrElse(""))
    }
  }

  /** One lookup of a key set — present, erased and never-written keys —
    * checked against the reference; returns its wall seconds.
    */
  private def lookup(ctx: Ctx, rep: Replica, ref: Reference, spec: TableSpec,
      rnd: java.util.SplittableRandom, out: Outcome): Option[Double] = {
    val present = ref.presentKeys(spec.id).toArray
    val erased = ref.erasedKeys(spec.id).toArray
    def pick(a: Array[Seq[String]], n: Int) =
      if (a.isEmpty) Nil else Seq.fill(n)(a(rnd.nextInt(a.length)))
    val never = Seq(spec.keyOf(spec.keySpace + rnd.nextInt(1000)))
    val keys = (pick(present, 2) ++ pick(erased, 1) ++ never).distinct
    val kdf = rep.keyFrame(spec, keys)
    val want = keys.flatMap(k => ref.get(spec.id, k).map(k -> _)).toMap
    val t0 = System.nanoTime()
    out.attempt(s"lookup ${spec.name}")(ctx.span("lookup", spec.id) {
      val df = rep.engine.lookup(spec.name, kdf)
      if (ctx.tracer.isDefined) out.lookupFiles += df.inputFiles.length
      df.collect()
    }) { rows =>
      val got = rep.texts(spec, rows)
      if (got == want) None else Some(s"got ${got.size} rows, want ${want.size}")
    }.map(_ => (System.nanoTime() - t0) / 1e9)
  }

  private def verifyState(rep: Replica, quorum: Option[(Long, Long)],
      out: Outcome): Unit = {
    val st = rep.engine.state
    out.check(st.state == graft.model.EngineState.Ok, s"state ${st.state}: ${st.lastMsg}")
    out.check(st.stage == graft.model.Stage.Run, s"stage ${st.stage}")
    out.check(quorum.contains((st.stepId, st.txId)),
      s"checkpoint (${st.stepId},${st.txId}) is not the last quorum $quorum")
    out.check(rep.dlqEmpty, "the dead-letter store is not empty")
  }
}
