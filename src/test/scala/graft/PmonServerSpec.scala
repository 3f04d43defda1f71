package graft

import graft.streaming.{EngineMetrics, PmonServer}
import org.scalatest.funsuite.AnyFunSuite
import java.net.{HttpURLConnection, URL}
import scala.io.Source

/** pmon analog: /metrics exposition, /readyz gating, /livez. */
class PmonServerSpec extends AnyFunSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is).mkString
    (code, body)
  }

  test("metrics exposition, readiness flip, liveness") {
    val m = new EngineMetrics
    m.addMods(3, 42L)
    m.lastQuorumWaitMs.set(7)
    m.codegenCompiles.set(3)
    m.codegenCompileNs.set(2500000L)
    m.codegenCacheUndersized.set(1)
    m.foldNs.set(4200000L)
    m.localFsForking.set(1)
    @volatile var ready = false
    val srv = PmonServer.start(0, m, () => ready)
    try {
      val (mc, mb) = get(srv.boundPort, "/metrics")
      assert(mc == 200)
      assert(mb.contains("graft_modifications_count 42"))
      assert(mb.contains("graft_quorum_waiting_latency_ms 7"))
      assert(mb.contains("graft_stream_3_modifications 42"))
      assert(mb.contains("graft_mps"))
      assert(mb.contains("graft_codegen_compiles_total 3\n"))
      assert(mb.contains("graft_codegen_compile_ms_total 2\n"))
      assert(mb.contains("graft_codegen_cache_undersized 1\n"))
      assert(mb.contains("graft_fold_ms_total 4\n"))
      assert(mb.contains("graft_local_fs_forking 1\n"))

      assert(get(srv.boundPort, "/readyz")._1 == 503)
      ready = true
      assert(get(srv.boundPort, "/readyz") == ((200, "ok\n")))
      assert(get(srv.boundPort, "/livez")._1 == 200)
    } finally srv.stop()
  }

  test("mps is the last batch's modifications over its latency") {
    val m = new EngineMetrics
    // batch 1: two applyCuts (100 + 50 modifications) in 500 ms
    m.batchStarted(); m.addMods(0, 100L); m.addMods(1, 50L)
    m.batchCommitted(500L)
    assert(m.mps == 300.0)
    // batch 2: one applyCut of 10 in 1000 ms; the cumulative count
    // (160) over this latency would read 160
    m.batchStarted(); m.addMods(0, 10L)
    m.batchCommitted(1000L)
    assert(m.mps == 10.0)
    assert(m.snapshot("modifications_count") == 160L)
    assert(m.snapshot("stream_0_modifications") == 110L)
    assert(m.snapshot("stream_1_modifications") == 50L)
    // a batch that fails before its commit leaves nothing behind
    m.batchStarted(); m.addMods(0, 7L)
    m.batchStarted(); m.batchCommitted(250L)
    assert(m.mps == 0.0)
  }

  test("the engine feeds per-stream modifications and the last-batch mps") {
    import graft.model._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val spark = GraftSession.get("4")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-mods").toString
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(7, s"$root/src", "users", partitions = 1)),
      s"$root/dst", buckets = 4)
    val meta = graft.sink.TableMeta("users", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))),
      Seq("id"))
    val e = new graft.streaming.CdcEngine(spark, cfg, Map(7 -> meta))
    e.bootstrap()
    def frame(lines: (String, Long)*) = lines.toDF("value", "offset")
      .withColumn("partitionId", lit(0L)).withColumn("tableId", lit(7))
    e.processBatch(frame(
      ("""{"update":{"name":"a"},"key":[1],"ts":[1,1]}""", 0L),
      ("""{"update":{"name":"b"},"key":[2],"ts":[1,2]}""", 1L),
      ("""{"resolved":[2,0]}""", 2L)), 0L)
    val s0 = e.metrics.snapshot
    assert(s0("stream_7_modifications") == 2L)
    assert(s0("modifications_count") == 2L)
    assert(e.metrics.mps == 2000.0 / s0("commit_latency_ms"))
    // a heartbeat-only batch modifies nothing
    e.processBatch(frame(("""{"resolved":[3,0]}""", 3L)), 1L)
    assert(e.metrics.snapshot("stream_7_modifications") == 2L)
    assert(e.metrics.mps == 0.0)
    // GraftSession sizes the codegen cache for the engine
    val s1 = e.metrics.snapshot
    assert(s1("codegen_cache_undersized") == 0L)
    assert(s1("codegen_compiles_total") >= 0L)
    assert(s1("codegen_compile_ms_total") >= 0L)
    // and replaces the file: FileSystem that forks a chmod per file
    assert(s1("local_fs_forking") == 0L)
  }

  test("engine bootstrap starts the server when mon_port configured") {
    import graft.model._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-pmon").toString
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 1)),
      s"$root/dst", buckets = 4, monPort = Some(0))
    val meta = graft.sink.TableMeta("users", StructType(Seq(
      StructField("id", LongType))), Seq("id"))
    val e = new graft.streaming.CdcEngine(GraftSession.get("4"), cfg, Map(0 -> meta))
    e.bootstrap()
    try {
      val port = e.monServer.get.boundPort
      // lease held + state Ok => ready
      assert(get(port, "/readyz")._1 == 200)
      assert(get(port, "/metrics")._1 == 200)
    } finally e.monServer.foreach(_.stop())
  }
}
