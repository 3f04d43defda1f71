package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A span: one call into the engine or into a layer function. Spans
  * nest; `parent` is the index of the enclosing span, -1 at the top.
  */
final class SpanRec(val name: String, val id: Long, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  def secs: Double = (endNs - startNs) / 1e9
}

/** What Spark ran for one span: jobs, stages, tasks and task metrics. */
final case class Work(jobs: Int, stages: Int, tasks: Int, cpuSecs: Double,
    shuffleWriteBytes: Long, inputBytes: Long, outputBytes: Long,
    jobSecs: Double)

/** The benchmark's trace: spans recorded around engine and layer calls,
  * and a SparkListener whose jobs, stages and tasks are attached to the
  * innermost span during which each job started (the benchmark drives
  * the engine from one thread, so spans never overlap except by
  * nesting). Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final case class JobRec(startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final class StageAgg {
    var tasks = 0; var cpuNs = 0L; var shuffleWrite = 0L
    var input = 0L; var output = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open = List.empty[Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  spark.sparkContext.addSparkListener(this)

  def span[T](name: String, id: Long)(f: => T): T = {
    val s = new SpanRec(name, id, open.headOption.getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open ::= spans.size - 1
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Top-level and nested spans with the given name, in order. */
  def named(name: String): Seq[SpanRec] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spans.filter(_.name == name).toSeq
  }

  /** Spark work of the jobs started while `s` was open (nested spans
    * included). Stages skipped by Spark ran no task and are not
    * counted.
    */
  def work(s: SpanRec): Work = synchronized {
    val js = jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    // union of the jobs' intervals, clipped to the span
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    for ((a, b) <- iv) {
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    Work(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.shuffleWrite).sum, ss.map(_.input).sum, ss.map(_.output).sum,
      covered / 1000.0)
  }

  /** Every recorded span as one JSON object per line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.zipWithIndex.foreach { case (s, i) =>
      val k = work(s)
      w.println(Json.obj(Seq("i" -> Json.value(i), "name" -> Json.value(s.name),
        "id" -> Json.value(s.id), "parent" -> Json.value(s.parent),
        "secs" -> Json.value(s.secs), "jobs" -> Json.value(k.jobs),
        "stages" -> Json.value(k.stages), "tasks" -> Json.value(k.tasks),
        "cpu_s" -> Json.value(k.cpuSecs), "shuffle_bytes" -> Json.value(k.shuffleWriteBytes))))
    } finally w.close()
  }
}
