package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work-dir <dir> [--spans <file>]
  *
  * Prints diagnostics, then as its last stdout line one JSON object:
  * correct, attempted, failed and the metrics (end-to-end ones with
  * --trace 0, per-layer ones with --trace 1).
  */
object Main {
  /** Cores of the local Spark master: at most 4, at most the host's. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(workDir: String): SparkSession = {
    val s = graft.GraftSession.builder(Cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val workDir = opt("--work-dir")
    val run = Workloads(workload)

    val canary = Canary.singleThread()
    val spark = session(workDir)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, workDir, tracer)
    val out = run(ctx)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val e2e = Workloads.metrics(out)
    val metrics: Option[Seq[(String, Double, String)]] = tracer match {
      case None =>
        e2e.map(("setup_s", (out.timedStartMs - jvmStartMs) / 1000.0, "s") +: _)
      case Some(t) =>
        // the traced run's own end-to-end figures, to price the tracing
        e2e.foreach(_.foreach { case (n, v, _) => out.diag(s"traced.$n") = v })
        e2e.map { _ =>
          val m = Layers.metrics(ctx, t, out)
          opts.get("--spans").foreach(t.dump)
          m
        }
    }
    out.problems.foreach(p => Console.err.println(s"[graftbench] check failed: $p"))
    val diag = out.diag.toSeq ++ Seq(
      "canary_st_s" -> canary)
    println("diag " + Json.obj(diag.map { case (k, v) => k -> Json.value(v) }))
    spark.stop()
    metrics match {
      case None =>
        Console.err.println("[graftbench] no timed batch committed: no metrics")
        sys.exit(1)
      case Some(ms) =>
        println(Json.obj(Seq(
          "correct" -> Json.value(out.correct),
          "attempted" -> Json.value(out.attempted),
          "failed" -> Json.value(out.failed),
          "metrics" -> Json.obj(ms.map { case (n, v, u) =>
            n -> Json.obj(Seq("value" -> Json.value(v), "unit" -> Json.value(u)))
          }))))
    }
  }
}

/** A fixed single-threaded busy loop: the host's single-core speed at
  * this moment, to tell a slow host window from a slow program.
  */
object Canary {
  def singleThread(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Just enough JSON output for the result line. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinity, s"non-finite metric $d")
      java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => value(k) + ":" + v }.mkString("{", ",", "}")
}
