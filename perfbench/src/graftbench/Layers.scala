package graftbench

import graft.merge.LwwMerge
import graft.model.Position
import graft.order.{BatchOrder, HeartbeatTracker}
import graft.parse.CdcParser
import graft.sink.{DstTable, TransactionalStore}
import graft.streaming.CdcEngine
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run.
  *
  * The engine-level numbers (streaming.*, sink write/compaction counts,
  * lookups) come from the spans around the run's own engine calls. The
  * layer numbers come from a replay: starting from the engine's state
  * at the start of the timed section, the frames of its first
  * compaction cycle go again, frame by frame, through the public layer
  * functions in pipeline order — parse, order, merge, apply, commit,
  * read — each forced by a full action and timed as its own span, into
  * a store of their own.
  */
object Layers {
  private final case class Step(parse: Double, parsedRows: Long,
      order: Double, lateRows: Long, merge: Double, rowsIn: Long,
      rowsOut: Long, mergeShuffle: Long, apply: Double, compacted: Int,
      commit: Double, manifestBytes: Long, read: Double)

  def metrics(ctx: Ctx, t: Tracer, out: Outcome): Seq[(String, Double, String)] = {
    val batchSpans = t.named("processBatch")
    val timed = batchSpans.takeRight(out.batches.size)
    val work = timed.map(t.work)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val lookupSpans = t.named("lookup")
    val steps = replay(ctx, t, out)
    val plain = steps.filter(_.compacted == 0)
    val compacting = steps.filter(_.compacted > 0)
    val b = out.batches.toSeq
    Seq(
      ("streaming.batch_s", Stats.median(b.map(_.secs)), "s"),
      ("streaming.batches", b.size.toDouble, "count"),
      ("streaming.jobs_per_batch", mean(work.map(_.jobs.toDouble)), "count"),
      ("streaming.stages_per_batch", mean(work.map(_.stages.toDouble)), "count"),
      ("streaming.tasks_per_batch", mean(work.map(_.tasks.toDouble)), "count"),
      ("streaming.driver_only_s",
        mean(timed.zip(work).map { case (s, w) => math.max(0.0, s.secs - w.jobSecs) }), "s"),
      ("streaming.pending_rows", mean(b.map(_.pendingRows.toDouble)), "rows"),
      ("streaming.quorum_wait_s", mean(b.flatMap(_.quorumWait)), "s"),
      ("streaming.executor_cpu_s", mean(work.map(_.cpuSecs)), "s"),
      ("streaming.shuffle_bytes", mean(work.map(_.shuffleWriteBytes.toDouble)), "bytes"),
      ("parse.s", mean(steps.map(_.parse)), "s"),
      ("parse.rows_per_s", steps.map(_.parsedRows).sum / steps.map(_.parse).sum, "1/s"),
      ("order.s", mean(steps.map(_.order)), "s"),
      ("order.late_rows", steps.map(_.lateRows).sum.toDouble, "count"),
      ("merge.s", mean(steps.map(_.merge)), "s"),
      ("merge.rows_in", mean(steps.map(_.rowsIn.toDouble)), "rows"),
      ("merge.rows_out", mean(steps.map(_.rowsOut.toDouble)), "rows"),
      ("merge.shuffle_bytes", mean(steps.map(_.mergeShuffle.toDouble)), "bytes"),
      ("sink.apply_s", mean(plain.map(_.apply)), "s"),
      ("sink.bytes_written", mean(work.map(_.outputBytes.toDouble)), "bytes"),
      ("sink.files_written", (out.filesAtEnd - out.filesAtStart).toDouble / b.size, "count"),
      ("sink.compact_s",
        math.max(0.0, mean(compacting.map(_.apply)) - mean(plain.map(_.apply))), "s"),
      ("sink.compacting_batches", b.count(_.compacted).toDouble, "count"),
      ("sink.buckets_compacted", out.bucketsCompacted.toDouble, "count"),
      ("sink.commit_s", mean(steps.map(_.commit)), "s"),
      ("sink.manifest_bytes", mean(steps.map(_.manifestBytes.toDouble)), "bytes"),
      ("sink.read_s", mean(steps.map(_.read)), "s"),
      ("sink.delta_files_live", mean(b.map(_.deltaFiles.toDouble)), "count"),
      ("sink.scan_s", Stats.median(out.scans.toSeq), "s"),
      ("sink.lookup_s", Stats.median(out.lookups.toSeq), "s"),
      ("sink.lookup_files", mean(out.lookupFiles.map(_.toDouble).toSeq), "count"),
      ("sink.lookup_input_bytes",
        mean(lookupSpans.map(s => t.work(s).inputBytes.toDouble)), "bytes"))
  }

  /** Replay the kept frames through the layer functions. */
  private def replay(ctx: Ctx, t: Tracer, out: Outcome): Seq[Step] = {
    val spark = ctx.spark
    val rep = out.replica
    val root = s"${ctx.workDir}/replay"
    TransactionalStore.initIfAbsent(root, "replay", rep.specs.map(_.name))
    val tracker = new HeartbeatTracker(
      rep.specs.flatMap(s => (0 until s.partitions).map(p => (s.id, p.toLong))).toSet)
    val pendingCols = CdcEngine.pendingSchema.fieldNames.map(col).toSeq
    // start from the engine's committed state at the start of the timed
    // section: its just-compacted tables, checkpoint and pending store
    // (the engine deletes no file, so they stay readable)
    val start = out.timedStartManifest
    var pending =
      if (start.pendingFiles.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), CdcEngine.pendingSchema)
      else spark.read.schema(CdcEngine.pendingSchema).parquet(start.pendingFiles: _*)
    var checkpoint = Position(start.state.stepId, start.state.txId)
    var man = TransactionalStore.read(root).copy(tables = start.tables)
    val steps = out.sampleFrames.toSeq.zipWithIndex.map { case (msgs, k) =>
      val raw = rep.frame(msgs)
      def timed[T](name: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = t.span(name, k.toLong)(f)
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val ((parsed, nParsed), parseS) = timed("parse") {
        val p = CdcParser.parseEnvelope(raw).persist()
        (p, p.count())
      }
      val ((tagged, late), orderS) = timed("order") {
        val carried = spark.createDataFrame(tracker.snapshot.toSeq.map {
          case ((tid, p), pos) => Row(tid, p, pos.step, pos.txId) }.asJava,
          StructType(Seq(StructField("tableId", IntegerType),
            StructField("partitionId", LongType),
            StructField("step", LongType), StructField("txId", LongType))))
        BatchOrder.partitionMaximaWithMalformed(parsed, checkpoint).collect()
          .foreach { r =>
            if (!r.isNullAt(r.fieldIndex("step")))
              tracker.add(r.getAs[Int]("tableId"), r.getAs[Long]("partitionId"),
                Position(r.getAs[Long]("step"), r.getAs[Long]("txId")))
          }
        val gt = BatchOrder.posGt(col("step"), col("txId"), checkpoint)
        val tg = BatchOrder.tagLate(CdcParser.changes(parsed).filter(gt),
          CdcParser.heartbeats(parsed).filter(gt), carried).persist()
        (tg, tg.filter(col("isLate")).count())
      }
      val q = tracker.quorum.getOrElse(checkpoint)
      val working = pending.unionByName(
        tagged.filter(!col("isLate")).select(pendingCols: _*)).persist()
      val below = BatchOrder.posLt(col("step"), col("txId"), q)
      val cut = working.filter(below)
      val ((merged, rowsIn, rowsOut), mergeS) = timed("merge") {
        val m = LwwMerge.merge(cut).persist()
        (m, cut.count(), m.count())
      }
      val mergeSpan = t.named("merge").last
      def chains = man.tables.toSeq.flatMap { case (n, tv) => tv.deltaFiles.keys.map(n -> _) }.toSet
      val chainsBefore = chains
      val (tables, applyS) = timed("apply") {
        rep.metas.map { case (tid, meta) =>
          meta.name -> DstTable.applyPatch(spark, root, meta, rep.buckets,
            man.tables(meta.name), merged.filter(col("tableId") === tid),
            man.version + 1, mergeOnRead = true,
            compactDeltas = rep.compactDeltas)._1
        }
      }
      val (_, commitS) = timed("commit") {
        man = man.copy(version = man.version + 1,
          state = man.state.copy(stepId = q.step, txId = q.txId),
          tables = tables)
        TransactionalStore.commit(root, man)
      }
      val folded = (chainsBefore -- chains).size
      val manifestBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(root, "manifest", s"v${man.version}.json"))
      val (_, readS) = timed("read") {
        rep.metas.values.foreach(m => DstTable.readCurrent(spark, m, man.tables(m.name)).collect())
      }
      pending = spark.createDataFrame(working.filter(!below).collect().toSeq.asJava,
        CdcEngine.pendingSchema)
      working.unpersist(); merged.unpersist(); tagged.unpersist(); parsed.unpersist()
      tracker.commit(q)
      checkpoint = q
      Step(parseS, nParsed, orderS, late, mergeS, rowsIn, rowsOut,
        t.work(mergeSpan).shuffleWriteBytes, applyS, folded,
        commitS, manifestBytes, readS)
    }
    steps
  }
}
