package graft

import graft.model._
import graft.sink.TableMeta
import graft.streaming.CdcEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end engine behavior over the minimum slice of SURVEY §7.2:
  * one destination table, two partitions; initial scan → RUN; quorum
  * gating; LWW apply; crash replay filtered by the checkpoint
  * (no loss, no duplication); FATAL on out-of-order under stop.
  */
class CdcEngineSpec extends SparkSpec {
  import spark.implicits._

  private val usersMeta = TableMeta("users",
    StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", IntegerType))),
    Seq("id"))

  private def mkEngine(root: String,
      strategy: ProblemStrategy = ProblemStrategy.Stop): CdcEngine = {
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", strategy, maxBatchSize = 1000, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    e.bootstrap()
    e
  }

  private def frame(lines: (String, Long, Long)*) =
    lines.toSeq.toDF("value", "partitionId", "offset")
      .withColumn("tableId", lit(0))

  private def users(e: CdcEngine): Map[Long, (String, Any)] =
    e.readTable("users").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("name"), r.get(r.fieldIndex("score")))).toMap

  /** An engine with `compactDeltas = 2` and its batch driver: batch b
    * updates keys 1 and 2 below its quorum (step 10(b+1)), so after the
    * initial scan (0) and the RUN switch (1) batches 2, 4, ... fold the
    * chains the batches before them grew.
    */
  private def foldingEngine(root: String): (CdcEngine, Long => Unit) = {
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", ProblemStrategy.Stop, maxBatchSize = 1000, buckets = 4,
      compactDeltas = 2)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    e.bootstrap()
    val batch = (b: Long) => {
      val q = 10L * (b + 1)
      e.processBatch(frame(
        (s"""{"update":{"name":"n$b"},"key":[1],"ts":[${q - 5},1]}""", 0L, 2 * b),
        (s"""{"update":{"score":$b},"key":[2],"ts":[${q - 5},2]}""", 1L, 2 * b),
        (s"""{"resolved":[$q,0]}""", 0L, 2 * b + 1),
        (s"""{"resolved":[$q,0]}""", 1L, 2 * b + 1)), b)
    }
    (e, batch)
  }

  test("initial scan applies regardless of quorum, then syncs to RUN") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val e = mkEngine(root)
    assert(e.state.stage == Stage.InitialScan)

    // batch 0: changes + first full hb set
    e.processBatch(frame(
      ("""{"update":{"name":"alice"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"update":{"score":5},"key":[2],"ts":[2,1]}""", 0L, 1L),
      ("""{"resolved":[3,0]}""", 0L, 2L),
      ("""{"update":{"score":9},"key":[1],"ts":[3,5]}""", 0L, 3L),
      ("""{"update":{"name":"bob"},"key":[3],"ts":[2,2]}""", 1L, 0L),
      ("""{"erase":{},"key":[2],"ts":[2,9]}""", 1L, 1L),
      ("""{"resolved":[3,0]}""", 1L, 2L)), 0L)

    // initial scan drained everything, even (3,5) above the quorum
    assert(users(e) == Map(1L -> ("alice", 9), 3L -> ("bob", null)))
    assert(e.state.stage == Stage.InitialScan)
    assert(e.state.position == Position(3, 5))

    // batch 1: a later quorum strictly above the sync target → RUN
    e.processBatch(frame(
      ("""{"resolved":[5,0]}""", 0L, 4L),
      ("""{"resolved":[5,0]}""", 1L, 3L)), 1L)
    assert(e.state.stage == Stage.Run)

    // batch 2 (RUN): emission happens only below the quorum
    e.processBatch(frame(
      ("""{"update":{"score":1},"key":[3],"ts":[6,1]}""", 0L, 5L),
      ("""{"update":{"name":"al2"},"key":[1],"ts":[6,2]}""", 1L, 4L),
      ("""{"update":{"name":"late-waits"},"key":[9],"ts":[8,1]}""", 1L, 5L),
      ("""{"resolved":[7,0]}""", 0L, 6L),
      ("""{"resolved":[7,0]}""", 1L, 6L)), 2L)
    assert(users(e) == Map(
      1L -> ("al2", 9), 3L -> ("bob", 1)))
    assert(e.state.position == Position(7, 0))

    // (8,1) stayed pending; a later quorum releases it
    e.processBatch(frame(
      ("""{"resolved":[9,0]}""", 0L, 7L),
      ("""{"resolved":[9,0]}""", 1L, 7L)), 3L)
    assert(users(e).contains(9L))
    assert(e.state.position == Position(9, 0))
  }

  test("initial scan with a small batch cap drains in multiple commits") {
    val root = Files.createTempDirectory("graft-chunk").toString
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", ProblemStrategy.Stop, maxBatchSize = 3, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    e.bootstrap()
    // 12 updates over 6 keys, interleaved positions across 2 partitions;
    // no quorum, so the whole set drains through the chunked scan path
    val rows = (0 until 12).map { i =>
      (s"""{"update":{"score":$i},"key":[${i % 6}],"ts":[${10 + i},1]}""",
        (i % 2).toLong, (i / 2).toLong)
    }
    e.processBatch(frame(rows: _*), 0L)
    // every key holds its LAST update (positions ascend with i)
    assert(users(e) == (0 until 6).map(k =>
      k.toLong -> ((null, 6 + k))).toMap)
    assert(e.state.position == Position(21, 1))
    assert(e.state.stage == Stage.InitialScan)
    // the cap forced multiple manifest commits (≥ 12/3 chunks)
    assert(graft.sink.TransactionalStore.read(s"$root/dst").version >= 4,
      "expected intermediate chunk commits")
    // zero malformed frames → the deferred DLQ path writes NOTHING
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/dst/dlq")),
      "clean batch must not create a DLQ store")
  }

  test("a marginal RUN-stage batch stays inside its job budget") {
    // the fixed per-micro-batch floor is driver work per Spark JOB
    // (planning, scheduling, codegen) — wall clock is host-noisy, but
    // the JOB COUNT of a small steady-state batch is deterministic:
    // one non-adaptive pre-emission job (the fused heartbeat/malformed
    // aggregation that also fills the working-set cache), one table
    // write (the LWW merge rides it) and one remainder write.
    // Regressions that re-introduce per-batch scans (eager DLQ probes,
    // per-chunk sorts, extra counts, adaptive stages run as jobs of
    // their own) blow this budget immediately.
    val root = Files.createTempDirectory("graft-jobs").toString
    val e = mkEngine(root)
    e.processBatch(frame(
      ("""{"update":{"name":"a"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"resolved":[3,0]}""", 0L, 1L),
      ("""{"resolved":[3,0]}""", 1L, 0L)), 0L)
    e.processBatch(frame(
      ("""{"resolved":[5,0]}""", 0L, 2L),
      ("""{"resolved":[5,0]}""", 1L, 1L)), 1L)
    assert(e.state.stage == Stage.Run)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      e.processBatch(frame(
        ("""{"update":{"score":7},"key":[1],"ts":[6,1]}""", 0L, 3L),
        ("""{"resolved":[8,0]}""", 0L, 4L),
        ("""{"resolved":[8,0]}""", 1L, 2L)), 2L)
      // listener events post asynchronously; they flush in
      // milliseconds — this only needs them all counted before the
      // assertion reads the total
      Thread.sleep(1500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(users(e)(1L) == (("a", 7)))
    assert(jobs.get() <= 3,
      s"marginal batch ran ${jobs.get()} jobs — the fixed floor regressed")
  }

  test("blocked-keys filter broadcasts while small, bloom-splits above the size gate") {
    val root = Files.createTempDirectory("graft-kf").toString
    val e = mkEngine(root)
    e.blockKeys(Seq(("users", Seq("1")), ("users", Seq("3")))
      .toDF("tableName", "keyJson"))
    val changes = Seq(
      (0, 0L, 0L, Seq("1"), Map("name" -> "a"), 1L, 1L, 0),
      (0, 0L, 1L, Seq("2"), Map("name" -> "b"), 2L, 1L, 0),
      (0, 1L, 0L, Seq("3"), Map("name" -> "c"), 3L, 1L, 0))
      .toDF("tableId", "partitionId", "offset", "keyJson", "columns",
        "step", "txId", "op")
    def surviving(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getSeq[String](3).head).toSet

    // small filter table → broadcast anti-join (reference's in-memory map)
    val small = e.applyKeyFilter(changes)
    assert(surviving(small) == Set("2"))
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small blocked-keys table must broadcast")

    // above the threshold the join may not broadcast a table that
    // would OOM at scale; instead a Bloom probe of the blocked set
    // splits the batch — negatives pass join-free, only candidates
    // reach the exact anti-join — and the same rows survive
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      // RDD-backed: over a LocalRelation the optimizer evaluates the
      // bloom probe at plan time (ConvertToLocalRelation) and the
      // plan-shape assertions would look at folded-away nodes
      val changesRdd = spark.createDataFrame(changes.rdd, changes.schema)
      val big = e.applyKeyFilter(changesRdd)
      assert(surviving(big) == Set("2"))
      val plan = big.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        "oversized blocked-keys table must not broadcast")
      assert(plan.contains("graft_bloom_might_contain"),
        "scale path must bloom-prefilter the anti-join")
      // memoization: an unchanged filter table must not rebuild the
      // bloom (the rebuild is a Spark aggregation per call otherwise)
      val again = e.applyKeyFilter(changes)
      assert(surviving(again) == Set("2"))
      // growing the table invalidates the signature and the new key
      // is honored through the rebuilt bloom
      e.blockKeys(Seq(("users", Seq("2"))).toDF("tableName", "keyJson"))
      assert(surviving(e.applyKeyFilter(changes)).isEmpty)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
  }

  test("malformed frame lands in the DLQ with reason=malformed; clean rows still apply") {
    val root = Files.createTempDirectory("graft-mal").toString
    val e = mkEngine(root, ProblemStrategy.Continue)
    e.processBatch(frame(
      ("""{"update":{"name":"alice"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""this is not json{{{""", 0L, 1L),
      ("""{"resolved":[3,0]}""", 0L, 2L),
      ("""{"resolved":[3,0]}""", 1L, 0L)), 0L)
    // the clean change applied...
    assert(users(e) == Map(1L -> ("alice", null)))
    // ...and the malformed line is dead-lettered (this MUST be an
    // aggregation-backed count, not an Observation: a concurrent job
    // materializing the parse cache would complete an observation
    // with a partial count and silently skip the write)
    val dlq = spark.read.parquet(s"$root/dst/dlq")
    assert(dlq.filter(col("reason") === "malformed").count() == 1)
    assert(dlq.filter(col("reason") === "malformed")
      .head().getAs[String]("value").startsWith("this is not json"))
  }

  test("cross-batch erase-then-update replaces the stored row (no stale columns)") {
    val root = Files.createTempDirectory("graft-xbatch").toString
    val e = mkEngine(root)
    e.processBatch(frame(
      ("""{"update":{"name":"x","score":5},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"resolved":[2,0]}""", 0L, 1L),
      ("""{"resolved":[2,0]}""", 1L, 0L)), 0L)
    e.processBatch(frame( // reach RUN
      ("""{"resolved":[4,0]}""", 0L, 2L),
      ("""{"resolved":[4,0]}""", 1L, 1L)), 1L)
    assert(users(e)(1L) == ("x", 5))
    // erase then partial update in ONE batch: pre-batch columns die
    e.processBatch(frame(
      ("""{"erase":{},"key":[1],"ts":[5,1]}""", 0L, 3L),
      ("""{"update":{"name":"y"},"key":[1],"ts":[5,2]}""", 0L, 4L),
      ("""{"resolved":[6,0]}""", 0L, 5L),
      ("""{"resolved":[6,0]}""", 1L, 2L)), 2L)
    assert(users(e)(1L) == ("y", null)) // score must NOT survive the erase
  }

  test("crash replay: checkpoint filter makes re-delivery a no-op") {
    val root = Files.createTempDirectory("graft-replay").toString
    val e = mkEngine(root)
    val b0 = frame(
      ("""{"update":{"name":"a"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"resolved":[2,0]}""", 0L, 1L),
      ("""{"update":{"name":"b"},"key":[2],"ts":[1,2]}""", 1L, 0L),
      ("""{"resolved":[2,0]}""", 1L, 1L))
    e.processBatch(b0, 0L)
    e.processBatch(frame( // reach RUN
      ("""{"resolved":[4,0]}""", 0L, 2L),
      ("""{"resolved":[4,0]}""", 1L, 2L)), 1L)
    val before = users(e)
    val posBefore = e.state.position

    // "crash": fresh engine instance (empty tracker), source re-delivers
    val e2 = mkEngine(root)
    e2.processBatch(b0, 0L) // replayed frame — everything ≤ checkpoint
    assert(users(e2) == before)
    assert(e2.state.position == posBefore)

    // new data after recovery applies exactly once
    e2.processBatch(frame(
      ("""{"update":{"score":7},"key":[1],"ts":[5,1]}""", 0L, 3L),
      ("""{"resolved":[6,0]}""", 0L, 4L),
      ("""{"resolved":[6,0]}""", 1L, 3L)), 2L)
    assert(users(e2)(1L) == ("a", 7))
  }

  test("out-of-order change under stop strategy persists FATAL and refuses restart") {
    val root = Files.createTempDirectory("graft-fatal").toString
    val e = mkEngine(root, ProblemStrategy.Stop)
    intercept[IllegalStateException] {
      e.processBatch(frame(
        ("""{"resolved":[10,0]}""", 0L, 0L),
        // older than its partition's last heartbeat → protocol violation
        ("""{"update":{"name":"x"},"key":[1],"ts":[4,1]}""", 0L, 1L)), 0L)
    }
    assert(e.state.state == EngineState.Fatal)
    intercept[IllegalStateException] { e.processBatch(frame(), 1L) }
  }

  test("late change against a CARRIED heartbeat from a previous batch is caught") {
    // p0's heartbeat runs ahead of the quorum (min over partitions),
    // so its tracker slot survives quorum eviction; a later change on
    // p0 that is above the checkpoint but below p0's own last
    // heartbeat is a protocol violation the carried state must catch.
    val root = Files.createTempDirectory("graft-carried").toString
    val e = mkEngine(root, ProblemStrategy.Continue)
    e.processBatch(frame(
      ("""{"update":{"name":"a"},"key":[1],"ts":[5,1]}""", 0L, 0L),
      ("""{"resolved":[20,0]}""", 0L, 1L),
      ("""{"resolved":[12,0]}""", 1L, 0L)), 0L)
    e.processBatch(frame( // quorum (21,0) > sync target (20,0) → RUN;
      // commit evicts p0's slot (=quorum), p1's (22,0) is carried
      ("""{"resolved":[21,0]}""", 0L, 2L),
      ("""{"resolved":[22,0]}""", 1L, 1L)), 1L)
    assert(e.state.stage == Stage.Run)
    // (21,5) on p1: above the checkpoint (21,0), below p1's carried
    // last heartbeat (22,0) → protocol violation
    e.processBatch(frame(
      ("""{"update":{"name":"late"},"key":[9],"ts":[21,5]}""", 1L, 2L),
      ("""{"update":{"name":"fine"},"key":[8],"ts":[23,1]}""", 0L, 3L),
      ("""{"resolved":[24,0]}""", 0L, 4L),
      ("""{"resolved":[24,0]}""", 1L, 3L)), 2L)
    assert(!users(e).contains(9L)) // late change dropped to DLQ
    assert(users(e).contains(8L))
    val dlq = spark.read.parquet(s"$root/dst/dlq")
    assert(dlq.filter(col("reason") === "out-of-order").count() == 1)
  }

  test("out-of-order under continue strategy routes to DLQ and proceeds") {
    val root = Files.createTempDirectory("graft-dlq").toString
    val e = mkEngine(root, ProblemStrategy.Continue)
    e.processBatch(frame(
      ("""{"resolved":[10,0]}""", 0L, 0L),
      ("""{"update":{"name":"x"},"key":[1],"ts":[4,1]}""", 0L, 1L),
      ("""{"update":{"name":"y"},"key":[2],"ts":[11,1]}""", 0L, 2L),
      ("""{"resolved":[12,0]}""", 0L, 3L),
      ("""{"resolved":[12,0]}""", 1L, 0L)), 0L)
    e.processBatch(frame(
      ("""{"resolved":[13,0]}""", 0L, 4L),
      ("""{"resolved":[13,0]}""", 1L, 1L)), 1L)
    val dlq = spark.read.parquet(s"$root/dst/dlq")
    assert(dlq.filter(col("reason") === "out-of-order").count() == 1)
    assert(!users(e).contains(1L))
    assert(users(e).contains(2L))
  }

  test("per-stream strategies: only the stop stream's late change FATALs") {
    val ordersMeta = TableMeta("orders", StructType(Seq(
      StructField("id", LongType), StructField("total", IntegerType))), Seq("id"))
    val root = Files.createTempDirectory("graft-perstream").toString
    val cfg = EngineConfig("inst1",
      Seq(
        StreamConfig(0, s"$root/src0", "users", partitions = 1,
          problemStrategy = Some(ProblemStrategy.Continue)),
        StreamConfig(1, s"$root/src1", "orders", partitions = 1,
          problemStrategy = Some(ProblemStrategy.Stop))),
      s"$root/dst", buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta, 1 -> ordersMeta))
    e.bootstrap()
    def rows(t: Int, lines: (String, Long, Long)*) =
      lines.toSeq.toDF("value", "partitionId", "offset")
        .withColumn("tableId", lit(t))

    // batch 0: a late change on the CONTINUE stream (below its own
    // partition's in-batch heartbeat) next to a clean stop-stream
    // update — the noisy stream must not halt the critical one
    e.processBatch(rows(0,
      ("""{"resolved":[10,0]}""", 0L, 0L),
      ("""{"update":{"name":"x"},"key":[1],"ts":[4,1]}""", 0L, 1L))
      .unionByName(rows(1,
        ("""{"update":{"total":7},"key":[5],"ts":[11,1]}""", 0L, 0L),
        ("""{"resolved":[12,0]}""", 0L, 1L))), 0L)
    assert(e.state.state == EngineState.Ok)
    val dlq = spark.read.parquet(s"$root/dst/dlq")
    assert(dlq.filter(col("reason") === "out-of-order").count() == 1)
    assert(e.readTable("orders").collect().map(_.getAs[Long]("id")).toSet
      == Set(5L))
    assert(!users(e).contains(1L))

    // batch 1: a late change on the STOP stream (above the checkpoint,
    // below its partition's in-batch heartbeat) → FATAL persisted
    intercept[IllegalStateException] {
      e.processBatch(rows(1,
        ("""{"resolved":[20,0]}""", 0L, 2L),
        ("""{"update":{"total":9},"key":[6],"ts":[15,1]}""", 0L, 3L)), 1L)
    }
    assert(e.state.state == EngineState.Fatal)
  }

  test("multi-table transaction: both tables + checkpoint commit atomically, or neither") {
    val ordersMeta = TableMeta("orders", StructType(Seq(
      StructField("id", LongType), StructField("total", IntegerType))), Seq("id"))
    val root = Files.createTempDirectory("graft-multi").toString
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src0", "users", partitions = 1),
        StreamConfig(1, s"$root/src1", "orders", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta, 1 -> ordersMeta))
    e.bootstrap()

    def mframe(lines: (String, Int, Long, Long)*) =
      lines.toSeq.toDF("value", "tableId", "partitionId", "offset")

    // one batch carries changes for BOTH tables; one quorum covers both
    e.processBatch(mframe(
      ("""{"update":{"name":"alice"},"key":[1],"ts":[1,1]}""", 0, 0L, 0L),
      ("""{"update":{"total":99},"key":[7],"ts":[2,1]}""", 1, 0L, 0L),
      ("""{"resolved":[3,0]}""", 0, 0L, 1L),
      ("""{"resolved":[3,0]}""", 1, 0L, 1L)), 0L)
    assert(e.readTable("users").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(e.readTable("orders").collect().map(_.getLong(0)).toSet == Set(7L))
    // INITIAL_SCAN checkpoints at the max APPLIED change position, not
    // the quorum — quorum gating begins at the sync point (ST5)
    val v1 = e.state.position
    assert(v1 == Position(2, 1))

    // a batch whose SECOND table's apply fails (unknown column) must
    // leave the first table, the checkpoint, and the stage untouched
    intercept[Exception] {
      e.processBatch(mframe(
        ("""{"update":{"name":"bob"},"key":[2],"ts":[4,1]}""", 0, 0L, 2L),
        ("""{"update":{"nope":1},"key":[8],"ts":[4,2]}""", 1, 0L, 2L),
        ("""{"resolved":[5,0]}""", 0, 0L, 3L),
        ("""{"resolved":[5,0]}""", 1, 0L, 3L)), 1L)
    }
    assert(e.readTable("users").collect().map(_.getLong(0)).toSet == Set(1L),
      "partial apply leaked into users")
    assert(e.readTable("orders").collect().map(_.getLong(0)).toSet == Set(7L))
    assert(e.state.position == v1, "checkpoint advanced on a failed txn")
  }

  test("cross-table time travel: one version is a consistent pair") {
    val ordersMeta = TableMeta("orders", StructType(Seq(
      StructField("id", LongType), StructField("total", IntegerType))), Seq("id"))
    val root = Files.createTempDirectory("graft-ttm").toString
    val cfg = EngineConfig("ttm",
      Seq(StreamConfig(0, s"$root/src0", "users", partitions = 1),
        StreamConfig(1, s"$root/src1", "orders", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta, 1 -> ordersMeta))
    e.bootstrap()
    def mframe(lines: (String, Int, Long, Long)*) =
      lines.toSeq.toDF("value", "tableId", "partitionId", "offset")
    e.processBatch(mframe(
      ("""{"update":{"name":"alice"},"key":[1],"ts":[1,1]}""", 0, 0L, 0L),
      ("""{"update":{"total":99},"key":[7],"ts":[1,2]}""", 1, 0L, 0L),
      ("""{"resolved":[2,0]}""", 0, 0L, 1L),
      ("""{"resolved":[2,0]}""", 1, 0L, 1L)), 0L)
    val v1 = e.storeVersion
    e.processBatch(mframe(
      ("""{"update":{"name":"bob"},"key":[1],"ts":[3,1]}""", 0, 0L, 2L),
      ("""{"update":{"total":5},"key":[8],"ts":[3,2]}""", 1, 0L, 2L),
      ("""{"resolved":[4,0]}""", 0, 0L, 3L),
      ("""{"resolved":[4,0]}""", 1, 0L, 3L)), 1L)
    // BOTH tables as of v1 reflect exactly batch 1 — a single
    // manifest version is a cross-table-consistent snapshot (the
    // atomic multi-table commit, read back through time travel)
    assert(e.readTableAt("users", v1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "alice")))
    assert(e.readTableAt("orders", v1).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet === Set((7L, 99)))
    // and head reflects batch 2 on both
    assert(e.readTable("users").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "bob")))
    assert(e.readTable("orders").collect().map(_.getLong(0)).toSet ===
      Set(7L, 8L))
  }

  test("a torn commit (files written, head not swapped) is invisible") {
    val root = Files.createTempDirectory("graft-torn").toString
    val cfg = EngineConfig("torn",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    e.bootstrap()
    def frame(lines: (String, Long, Long)*) =
      lines.toSeq.toDF("value", "partitionId", "offset")
        .withColumn("tableId", org.apache.spark.sql.functions.lit(0))
    e.processBatch(frame(
      ("""{"update":{"name":"alice"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"resolved":[2,0]}""", 0L, 1L)), 0L)
    val before = e.readTable("users").collect().map(_.toSeq).toSet
    val v = e.storeVersion
    // simulate a crash AFTER data + manifest file writes but BEFORE
    // the atomic MANIFEST swap: orphan data file + orphan manifest
    val orphanData = java.nio.file.Paths.get(s"$root/dst/tables/users/orphan.parquet")
    java.nio.file.Files.createDirectories(orphanData.getParent)
    java.nio.file.Files.write(orphanData, Array[Byte](1, 2, 3))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/dst/manifest/v${v + 10}.json"), "{}")
    // readers resolve MANIFEST first: the torn commit is invisible
    assert(e.readTable("users").collect().map(_.toSeq).toSet === before)
    assert(e.storeVersion === v)
    // a fresh engine instance recovers the committed state too
    assert(new CdcEngine(spark, cfg, Map(0 -> usersMeta))
      .readTable("users").collect().map(_.toSeq).toSet === before)
    // vacuum collects the torn commit's data orphan
    val deleted = graft.sink.TransactionalStore.vacuum(s"$root/dst")
    assert(deleted >= 1)
    assert(!java.nio.file.Files.exists(orphanData))
    assert(e.readTable("users").collect().map(_.toSeq).toSet === before)
  }

  test("standby mode: bootstrap waits for the lease instead of failing") {
    val root = Files.createTempDirectory("graft-standby").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/dst"))
    val other = new graft.sink.LeaseLock(s"$root/dst", "other", 60000L)
    assert(other.tryAcquire())
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4,
      multipleInstancesMode = true, standbyMaxWaitMillis = 10000L)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    val releaser = new Thread(() => { Thread.sleep(500); other.release() })
    releaser.start()
    e.bootstrap() // would throw without standby mode
    releaser.join()
    assert(e.state.state == EngineState.Ok)

    // without standby mode the same contention IS a failure
    assert(other.tryAcquire() == false) // engine holds it now
    val e2 = new CdcEngine(spark,
      cfg.copy(instanceId = "inst2", multipleInstancesMode = false),
      Map(0 -> usersMeta))
    intercept[IllegalStateException](e2.bootstrap())
  }

  test("ST6 gauges: quorum wait, liveness warning, replication lag") {
    val root = Files.createTempDirectory("graft-st6").toString
    val cfg = EngineConfig("inst1",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 2)),
      s"$root/dst", ProblemStrategy.Stop, maxBatchSize = 1000, buckets = 4,
      maxExpectedHbIntervalMs = 50L)
    val e = new CdcEngine(spark, cfg, Map(0 -> usersMeta))
    e.bootstrap()

    // batch 0: changes + a heartbeat from only ONE of two partitions
    // → no full set, no quorum → the wait clock starts
    e.processBatch(frame(
      ("""{"update":{"name":"a"},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"update":{"name":"b"},"key":[2],"ts":[2,1]}""", 0L, 1L),
      ("""{"resolved":[3,0]}""", 0L, 2L)), 0L)
    assert(e.metrics.hbLivenessWarnings.get() == 0)

    Thread.sleep(80)
    // batch 1: still only partition 0 → liveness guard fires
    e.processBatch(frame(("""{"resolved":[4,0]}""", 0L, 3L)), 1L)
    assert(e.metrics.hbLivenessWarnings.get() >= 1)

    // batch 2: full set (p0 at 9, p1 at 5) → quorum appears after a
    // measurable cross-batch wait; checkpoint trails the newest hb
    e.processBatch(frame(
      ("""{"resolved":[9,0]}""", 0L, 4L),
      ("""{"resolved":[5,0]}""", 1L, 0L)), 2L)
    assert(e.metrics.lastQuorumWaitMs.get() >= 1)
    assert(e.metrics.replicationLagEstimation.get() > 0)
    assert(e.metrics.snapshot.contains("hb_liveness_warnings"))
  }

  test("lookup reads only the probed keys' buckets, rows match a filtered full read") {
    val root = Files.createTempDirectory("graft-lookup").toString
    val e = mkEngine(root)
    val changes = (0 until 40).map { i =>
      (s"""{"update":{"name":"u$i","score":$i},"key":[$i],"ts":[1,$i]}""",
        (i % 2).toLong, (i / 2).toLong)
    } ++ Seq(("""{"resolved":[2,0]}""", 0L, 20L),
      ("""{"resolved":[2,0]}""", 1L, 20L))
    e.processBatch(frame(changes: _*), 0L)

    val keys = Seq(7L, 23L).toDF("id")
    val got = e.lookup("users", keys)
    val want = e.readTable("users").filter(col("id").isin(7L, 23L))
    assert(got.orderBy("id").collect().toSeq ===
      want.orderBy("id").collect().toSeq)

    // the pruning claim: the lookup's scan plans over a strict subset
    // of the table's files (4 buckets hold 40 keys; 2 probed keys hash
    // into at most 2 of them)
    val lookupFiles = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val allFiles = e.readTable("users").select(input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    assert(lookupFiles.subsetOf(allFiles))
    assert(lookupFiles.size < allFiles.size,
      s"lookup touched ${lookupFiles.size} of ${allFiles.size} files")

    // a key the table never saw returns no rows (and no error)
    assert(e.lookup("users", Seq(999L).toDF("id")).count() === 0L)
  }

  test("default config writes merge-on-read delta chains after the base load") {
    // guards the production default: steady-state commits must append
    // deltas (bytes ∝ patch), not rewrite buckets — only the FIRST
    // commit into the empty table builds base files
    val root = Files.createTempDirectory("graft-mor-def").toString
    val e = mkEngine(root)
    e.processBatch(frame(
      ("""{"update":{"name":"a","score":1},"key":[1],"ts":[1,1]}""", 0L, 0L),
      ("""{"update":{"name":"b","score":2},"key":[2],"ts":[1,2]}""", 1L, 0L),
      ("""{"resolved":[2,0]}""", 0L, 1L),
      ("""{"resolved":[2,0]}""", 1L, 1L)), 0L)
    e.processBatch(frame(
      ("""{"resolved":[3,0]}""", 0L, 2L),
      ("""{"resolved":[3,0]}""", 1L, 2L)), 1L)
    val tv0 = graft.sink.TransactionalStore.read(s"$root/dst").tables("users")
    assert(tv0.bucketFiles.nonEmpty && tv0.deltaFiles.isEmpty)
    e.processBatch(frame(
      ("""{"update":{"score":9},"key":[1],"ts":[4,1]}""", 0L, 3L),
      ("""{"resolved":[5,0]}""", 0L, 4L),
      ("""{"resolved":[5,0]}""", 1L, 3L)), 2L)
    val tv1 = graft.sink.TransactionalStore.read(s"$root/dst").tables("users")
    assert(tv1.deltaFiles.nonEmpty,
      "steady-state commit should land as a delta chain under the default")
    assert(users(e)(1L) == (("a", 9)))
    // MoR health gauges ride the manifest
    assert(e.metrics.deltaFilesLive.get() > 0L)
    assert(e.metrics.snapshot.contains("delta_files_live"))
  }

  test("the low-latency shuffle width is a power of two per ~8k rows, at most 32") {
    val w = Seq(0L, 7999L, 8000L, 16000L, 40000L, 47999L, 56000L, 250000L,
      Long.MaxValue).map(CdcEngine.lowLatencyWidth)
    assert(w == Seq(1, 1, 2, 4, 8, 8, 8, 32, 32))
    assert((0L to 300000L by 1000L).map(CdcEngine.lowLatencyWidth).distinct.sorted ==
      Seq(1, 2, 4, 8, 16, 32))
  }

  test("a warm non-compacting batch compiles no generated code") {
    // the compile counter is JVM-wide; suites run one at a time in one
    // forked JVM, so its difference over one processBatch is that
    // batch's compiles
    val root = Files.createTempDirectory("graft-codegen").toString
    val (e, run) = foldingEngine(root)
    assert(e.metrics.snapshot("codegen_cache_undersized") == 0L)
    // Spark's default cache of 100 entries is flagged
    e.checkCodegenCache(100)
    assert(e.metrics.snapshot("codegen_cache_undersized") == 1L)
    e.checkCodegenCache(GraftSession.CodegenCacheEntries)
    assert(e.metrics.snapshot("codegen_cache_undersized") == 0L)
    // every RUN commit grows the same buckets' chains by one delta and
    // compactDeltas = 2 folds them every second commit
    def batch(b: Long): Long = {
      val (c0, _) = GraftSession.codegenTotals()
      run(b)
      GraftSession.codegenTotals()._1 - c0
    }
    // initial scan, RUN switch, then compactions at batches 2 and 4
    // with a non-compacting batch between them
    (0L to 4L).foreach { b =>
      val before = e.metrics.bucketsCompacted.get()
      batch(b)
      assert((e.metrics.bucketsCompacted.get() > before) == (b == 2L || b == 4L),
        s"batch $b: unexpected compaction pattern")
    }
    assert(e.state.stage == Stage.Run)
    val total0 = e.metrics.codegenCompiles.get()
    val compacted0 = e.metrics.bucketsCompacted.get()
    val compiles = batch(5L)
    assert(e.metrics.bucketsCompacted.get() == compacted0)
    assert(compiles == 0L, s"warm batch compiled $compiles generated classes")
    assert(e.metrics.codegenCompiles.get() == total0)
    assert(users(e) == Map(1L -> (("n5", null)), 2L -> ((null, 5))))
    // and a warm compacting batch: the fold's plan is the same every
    // time, so it compiles nothing either
    val folds0 = e.metrics.foldNs.get()
    val foldCompiles = batch(6L)
    assert(e.metrics.bucketsCompacted.get() > compacted0)
    assert(e.metrics.foldNs.get() > folds0)
    assert(foldCompiles == 0L, s"warm fold compiled $foldCompiles generated classes")
    assert(users(e) == Map(1L -> (("n6", null)), 2L -> ((null, 6))))
  }

  test("a warm batch plans over internal rows: no object (de)serialization nodes") {
    val root = Files.createTempDirectory("graft-leaf").toString
    val (e, batch) = foldingEngine(root)
    (0L to 2L).foreach(batch)
    val nodes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def walk(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
      nodes.add(p.nodeName)
      p.children.foreach(walk)
    }
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          ev: org.apache.spark.scheduler.SparkListenerEvent): Unit = ev match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          walk(s.sparkPlanInfo)
        case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
          walk(u.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      batch(3L) // a plain batch
      batch(4L) // a compacting one
      Thread.sleep(1500) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(e.state.stage == Stage.Run)
    assert(users(e) == Map(1L -> (("n4", null)), 2L -> ((null, 4))))
    assert(nodes.asScala.exists(_.startsWith("Scan ExistingRDD")),
      s"no RDD leaf recorded: $nodes")
    val bad = nodes.asScala.filter(n => n.contains("DeserializeToObject") ||
      n.contains("SerializeFromObject") || n.contains("ExternalRDD"))
    assert(bad.isEmpty, s"object conversion in a warm batch's plans: $bad")
  }

  test("a batch that fails before its commit rolls back the heartbeat state; the retry commits") {
    val root = Files.createTempDirectory("graft-retry").toString
    val (e, batch) = foldingEngine(root)
    (0L to 1L).foreach(batch)
    assert(e.state.stage == Stage.Run)
    // batch 2 folds the chain batch 1 grew: hide that chain's files so
    // the fold's read fails inside emission, after the batch's
    // heartbeats reached the tracker and before any commit
    val chain = graft.sink.TransactionalStore.read(s"$root/dst")
      .tables("users").deltaFiles.values.flatten.toSeq
    assert(chain.nonEmpty)
    val hidden = chain.map(f => java.nio.file.Paths.get(f))
      .map(f => f -> f.resolveSibling(s".hidden-${f.getFileName}"))
    hidden.foreach { case (f, h) => Files.move(f, h) }
    val v0 = e.storeVersion
    intercept[Exception](batch(2L))
    assert(e.storeVersion == v0)
    assert(e.state.state == EngineState.Ok)
    // the failure passes: the same frame and batchId, on the same engine
    hidden.foreach { case (f, h) => Files.move(h, f) }
    batch(2L)
    assert(e.state.state == EngineState.Ok)
    assert(e.state.position == Position(30, 0))
    assert(users(e) == Map(1L -> (("n2", null)), 2L -> ((null, 2))))
    // and the engine keeps going
    batch(3L)
    assert(users(e) == Map(1L -> (("n3", null)), 2L -> ((null, 3))))
  }
}
