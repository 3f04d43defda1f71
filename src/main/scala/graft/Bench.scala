package graft

object Bench {

  /** The per-query canary assignment, pure so the noisy-window
    * behavior is spec-testable: queries run in batches of
    * [[BatchSize]], `canaries` carries one sample BEFORE the first
    * batch plus one after each batch (size = nBatches + 1), and each
    * query prices against the MEAN of its batch's two bracketing
    * samples. A host spike confined to one stretch of the run then
    * rescales exactly the queries it slowed — not the whole artifact
    * (the old run-median let one throttled window fake multi-x
    * regressions on unchanged queries).
    */
  private[graft] val BatchSize = 8
  private[graft] def perQueryCanary(names: Seq[String],
      canaries: Seq[Double]): Map[String, Double] = {
    val batches = names.grouped(BatchSize).toSeq
    require(canaries.size == batches.size + 1,
      s"need ${batches.size + 1} canary samples, got ${canaries.size}")
    batches.zipWithIndex.flatMap { case (batch, b) =>
      val cq = (canaries(b) + canaries(b + 1)) / 2.0
      batch.map(_ -> cq)
    }.toMap
  }

  /** Headline = EVERY declared query, in sorted order — a regression
    * anywhere on the oracle surface is visible in the bench artifact,
    * not just in the operator families a curated list happened to
    * cover. Each query runs `reps` times (default 3) and records the
    * MINIMUM: the host throttles unpredictably (documented ±5x drift
    * between quiet and busy windows), so a single-shot number is
    * noise — the min over repeats is the stable estimate of what the
    * code costs, and it keeps sf0.1/sf1 artifacts mutually consistent.
    */
  def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** One tiny engine run (2 partitions, 4 changes + 2 heartbeats) to
    * compile the engine's plan shapes before measurement.
    */
  private def warmupEngine(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.model._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    // generated code inlines the destination schema (typed projection)
    // and bucket count, so the warmup table mirrors the e2e fixture's
    // shape — otherwise the apply-side stages compile twice
    val root = java.nio.file.Files.createTempDirectory("graft-warm").toString
    val cfg = EngineConfig("bench-warmup",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", ProblemStrategy.Stop,
      maxBatchSize = Int.MaxValue, buckets = 32)
    val meta = graft.sink.TableMeta("users",
      StructType(Seq(StructField("user_id", LongType),
        StructField("value", DoubleType), StructField("props", StringType))),
      Seq("user_id"))
    val e = new graft.streaming.CdcEngine(spark, cfg, Map(0 -> meta))
    e.bootstrap()
    val frame = Seq(
      ("""{"update":{"value":"1.5"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"update":{"props":"b"},"key":[2],"ts":[2,1]}""", 1L, 0L),
      ("""{"erase":{},"key":[2],"ts":[2,2]}""", 1L, 1L),
      ("""{"update":{"value":"2.5","props":"c"},"key":[3],"ts":[2,3]}""", 0L, 1L),
      ("""{"resolved":[9,0]}""", 0L, 2L),
      ("""{"resolved":[9,0]}""", 1L, 2L))
      .toDF("value", "partitionId", "offset").withColumn("tableId", lit(0))
    e.processBatch(frame, 0L)
    e.readTable("users").count()
  }

  /** Fixed canary workload: pure Spark (scan + tiny shuffle), zero
    * graft code, zero data dependence — its cost is a property of the
    * HOST WINDOW alone. Sampled through the run (start, every 8th
    * query, end); the median prices the window, so per-query times can
    * be emitted twice: raw seconds AND canary-normalized ratios.
    * Round-over-round comparisons should read the ratios — the raw
    * wall clock carries a proven ±1.2–1.5× host-window term that
    * min-of-reps cannot remove (a throttled WHOLE window shifts every
    * rep together; the canary shifts with it and divides back out).
    */
  private def canaryOnce(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L)
      .selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v")
      .selectExpr("sum(`sum(v)`)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Decode-shaped canary: a fixed javax.imageio workload (64
    * decodes of one in-memory 256×256 PNG + a bulk raster fetch
    * each), zero data dependence — prices the HOST WINDOW for the
    * allocation/ImageIO mix the mm_* family rides. The r14 window
    * showed why the CPU canary alone cannot adjudicate media rows:
    * it ran FASTER in a window where mm rows ran 2.3–2.6× slower.
    * Sampled at the same bracket points as [[canaryOnce]]; the
    * artifact carries a per-query media canary so a reader can
    * separate decode-window drift from a code regression.
    */
  private lazy val mediaCanaryBytes: Array[Byte] =
    graft.ops.ImageCodec.encodePng(256, 256,
      (x, y) => ((x * 31 + y * 17) & 0xff) * 0x010101)

  private def mediaCanaryOnce(): Double = {
    val bytes = mediaCanaryBytes
    val t0 = System.nanoTime()
    var i = 0
    var sink = 0L
    while (i < 64) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0,
        img.getWidth)
      sink += px(i * 7 % px.length)
      i += 1
    }
    if (sink == Long.MinValue) println("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Single-threaded CPU canary: a fixed xorshift busy loop, ZERO
    * Spark involvement — prices raw single-core speed of the host
    * window. The parallel [[canaryOnce]] is itself a Spark job whose
    * cost GROWS with core count (scheduling overhead) and it
    * over-responds to window drift, which makes it circular for
    * adjudicating the scheduling-bound sub-second queries (r17
    * verdict item 6). This one cannot: no scheduler, no allocation,
    * no I/O. Sampled at the same bracket points; emitted as
    * additional fields (canary_st_q / canary_st) — nothing existing
    * moves.
    */
  private def stCanaryOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    if (x == 42L) println("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** One single-thread BRACKET sample = min of 2 runs (the same
    * min-of-retries treatment the other canaries get).
    */
  private def stCanarySample(): Double =
    math.min(stCanaryOnce(), stCanaryOnce())

  /** One media-canary BRACKET sample = min of 2 [[mediaCanaryOnce]]
    * runs — the same min-of-retries treatment the per-query timings
    * get (round-16 fix: a single unguarded sample made the mm_*
    * adjudication unit noisier than the CPU canary it exists to
    * complement; one GC pause inside the lone sample mis-priced a
    * whole batch's media window).
    */
  private def mediaCanarySample(): Double =
    math.min(mediaCanaryOnce(), mediaCanaryOnce())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q3_shipping_topk,emb_ivf_knn
    // restricts the run; the driver never sets it, so official rounds
    // always measure the full headline list
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val asked = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = asked -- headline.toSet
        if (unknown.nonEmpty) {
          System.err.println(
            s"SPARK_GRAFT_BENCH_ONLY names not in headline: ${unknown.mkString(",")}")
          sys.exit(2) // a typo must not read as an empty (fast!) run
        }
        headline.filter(asked)
      case None => headline
    }
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    require(reps > 0, "SPARK_GRAFT_BENCH_REPS must be positive")
    val spark = GraftSession.get()
    // amortize session/JIT startup so the first measured query isn't
    // charged for codegen warmup
    spark.range(2000000L).selectExpr("sum(id)").collect()
    // warmup failure is not fatal here — the measured loop will record
    // the same error per-query so it lands in the JSON
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // same convention for the CDC engine: a production engine runs
    // indefinitely, so its one-time plan/codegen compilation is
    // amortized across every batch — warm those plan shapes on a
    // 6-row in-memory batch so cdc_engine_e2e measures the engine,
    // not the first-ever Janino compile of its stages
    try warmupEngine(spark) catch { case _: Throwable => () }
    // a failed query must be VISIBLE: it reports in "errors" with its
    // message and the process exits nonzero — a throwing query used to
    // contribute elapsed time indistinguishably from success
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // generated classes compiled, and their compile seconds, summed
    // over each query's timed reps
    val compiles = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val compileSecs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def runReps(name: String, n: Int): Unit = {
      val fn = SparkEntry.queries(name)
      var rep = 0
      while (rep < n && !errors.contains(name)) {
        val (c0, ns0) = GraftSession.codegenTotals()
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets Catalyst elide
        // row-preserving left joins and every final projection, so a
        // query whose cost lives in a joined-then-aggregated column
        // (doc_dup_span_stats: 0.26 s under count() vs the real ~2.9 s)
        // measured as nearly free. The noop write evaluates every
        // output column of every row and discards them — the honest
        // "what would materializing this result cost" number.
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.replace("\"", "'").take(200)
        }
        val el = (System.nanoTime() - t0) / 1e9
        val (c1, ns1) = GraftSession.codegenTotals()
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), el)
        compiles(name) += c1 - c0
        compileSecs(name) += (ns1 - ns0) / 1e9
        // outside the timed section: a cache an iterative operator
        // left behind must not pressure the next measurement
        spark.catalog.clearCache()
        rep += 1
      }
    }
    // canary warm + first sample; further samples bracket every 8-query
    // batch so one throttled stretch can't mis-price the whole run —
    // and each QUERY is normalized by ITS OWN bracketing samples, not
    // the run-level median (a single noisy window used to manufacture
    // fake multi-x "regressions" on unchanged queries)
    canaryOnce(spark)
    mediaCanaryOnce()
    stCanaryOnce()
    val canaries = scala.collection.mutable.ArrayBuffer(canaryOnce(spark))
    val mediaCanaries =
      scala.collection.mutable.ArrayBuffer(mediaCanarySample())
    val stCanaries =
      scala.collection.mutable.ArrayBuffer(stCanarySample())
    val noRetry = sys.env.contains("SPARK_GRAFT_BENCH_NORETRY")
    val batches = selected.grouped(BatchSize).toSeq
    batches.foreach { batch =>
      batch.foreach(runReps(_, reps))
      var sample = canaryOnce(spark)
      // spike pass: if this batch's closing canary prices >1.5x the
      // best window seen, the batch ran throttled — give each of its
      // queries ONE more rep (min-merge) and re-sample, so a transient
      // host spike can't stamp inflated numbers on unchanged code.
      // Bounded: at most one extra rep per query per run.
      if (!noRetry && sample > 1.5 * canaries.min) {
        batch.foreach(runReps(_, 1))
        sample = math.min(sample, canaryOnce(spark))
      }
      canaries += sample
      mediaCanaries += mediaCanarySample()
      stCanaries += stCanarySample()
    }
    val results = selected.map(n => n -> times(n))
    // per-query neighborhood canary: the mean of the two samples
    // bracketing the query's batch (pure + spec-tested)
    val canaryOf = perQueryCanary(selected, canaries.toSeq)
    val canSorted = canaries.toSeq.sorted
    val canMed = canSorted(canSorted.size / 2)
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Two outputs, one constraint: the harness keeps only the LAST
    // ~2000 chars of process output, and the sbt [success] trailer eats
    // ~80 of them. A full-precision line over the whole headline
    // (84+ queries x 17-digit doubles) is ~3.3k chars and would be
    // HEAD-truncated into garbage. So:
    //  (1) full precision for every query -> a JSON file next to the
    //      repo (committed as the round's local bench evidence);
    //  (2) stdout gets a compact line -- 3-decimal seconds, slowest
    //      queries first, filled to a hard budget; whatever doesn't fit
    //      is aggregated into rest_n/rest_sec so the total still
    //      reconciles. The slow tail is where regressions live; the
    //      omitted entries are the sub-0.3 s scans.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // canary-normalized twin of every row: seconds ÷ the query's OWN
    // bracketing canary samples — the unit a different window
    // reproduces, robust to intra-run spikes the run median averages
    // away
    val normQs = results.map { case (k, v) =>
      val c = canaryOf.getOrElse(k, canMed)
      "\"" + k + "\":" + (if (c > 0) v / c else v) }
      .mkString("{", ",", "}")
    // the per-query canary values themselves, so an artifact reader
    // can reconstruct raw seconds from the normalized rows
    val canQs = results.map { case (k, _) =>
      "\"" + k + "\":" + canaryOf.getOrElse(k, canMed) }
      .mkString("{", ",", "}")
    val canaryJson =
      s"""{"med":$canMed,"min":${canSorted.head},"max":${canSorted.last},"n":${canSorted.size}}"""
    // the decode-shaped twin: per-query media canary samples price
    // the javax.imageio/allocation mix for each query's window — the
    // adjudication unit for mm_* rows that the CPU canary cannot see
    val mediaOf = perQueryCanary(selected, mediaCanaries.toSeq)
    val medSorted = mediaCanaries.toSeq.sorted
    val medMed = medSorted(medSorted.size / 2)
    val mediaQs = results.map { case (k, _) =>
      "\"" + k + "\":" + mediaOf.getOrElse(k, medMed) }
      .mkString("{", ",", "}")
    val mediaJson =
      s"""{"med":$medMed,"min":${medSorted.head},"max":${medSorted.last},"n":${medSorted.size}}"""
    // single-thread canary twin (additive fields): the adjudication
    // unit for scheduling-bound sub-second rows, where the parallel
    // Spark canary is circular (it anti-scales with core count)
    val stOf = perQueryCanary(selected, stCanaries.toSeq)
    val stSorted = stCanaries.toSeq.sorted
    val stMed = stSorted(stSorted.size / 2)
    val stQs = results.map { case (k, _) =>
      "\"" + k + "\":" + stOf.getOrElse(k, stMed) }
      .mkString("{", ",", "}")
    val stJson =
      s"""{"med":$stMed,"min":${stSorted.head},"max":${stSorted.last},"n":${stSorted.size}}"""
    val compilesQs = results.map { case (k, _) =>
      "\"" + k + "\":" + compiles(k) }.mkString("{", ",", "}")
    val compileSecsQs = results.map { case (k, _) =>
      "\"" + k + "\":" + compileSecs(k) }.mkString("{", ",", "}")
    val sfBase = new java.io.File(sfDir).getName
    // non-default core counts get their own artifact name so a
    // low-core scaling run can never clobber the canonical 32-core
    // file (r17 hygiene item: the driver's local[8] pass overwrote
    // BENCH_LOCAL_sf0.1.json)
    val cpusEnv = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (cpusEnv == "32") s"BENCH_LOCAL_$sfBase.json"
      else s"BENCH_LOCAL_${sfBase}_c$cpusEnv.json")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"queries_norm":$normQs,"canary_q":$canQs,"canary":$canaryJson,"canary_media_q":$mediaQs,"canary_media":$mediaJson,"canary_st_q":$stQs,"canary_st":$stJson,"codegen_compiles":$compilesQs,"codegen_s":$compileSecsQs,"errors":$errJson,"sf":"$sfDir","reps":$reps,"n_queries":${results.size}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    val bySlowest = results.sortBy(-_._2)
    val budget = 1550 // chars for the queries body; keeps the line <1850
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    bySlowest.foreach { case (k, v) =>
      val entry = k.length + f3(v).length + 4 // quotes + colon + comma
      if (used + entry <= budget) { kept += ((k, v)); used += entry }
    }
    val omitted = bySlowest.filterNot(kept.contains)
    val qs = kept.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"canary_med":${f3(canMed)},"canary_st_med":${f3(stMed)},"errors":$errJson,"sf":"$sfDir","reps":$reps,"n_queries":${results.size},"rest_n":${omitted.size},"rest_sec":${f3(omitted.map(_._2).sum)},"full":"$outFile"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
