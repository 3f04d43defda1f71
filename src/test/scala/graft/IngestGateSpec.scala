package graft

import graft.streaming.IngestGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming near-dup ingest gate driven through a real streaming
  * query: in-batch self-dedup, corpus probe across micro-batches, and
  * idempotent batch replay.
  */
class IngestGateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gate").toString

  test("gate: corrupt META fails by name, not MatchError (r15 advice)") {
    val state = tmp()
    val gate = new IngestGate(spark, state)
    gate.applyBatch(Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text"), 0L)
    // a truncated META (possible on stores without rename atomicity)
    // must surface as state corruption naming the path — an opaque
    // MatchError reads as a code bug and hides the repair action
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$state/base"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/base/META"), "7")
    val ex = intercept[IllegalStateException] {
      gate.applyBatch(Seq((2L, "totally different content here"))
        .toDF("doc_id", "text"), 1L)
    }
    assert(ex.getMessage.contains("corrupt gate-state META"))
    // the message names the base dir and the repair action (the
    // round-17 commit scheme reports per-generation META files)
    assert(ex.getMessage.contains(s"$state/base"))
    assert(ex.getMessage.contains("operator repair"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/base/META"), "")
    val ex2 = intercept[IllegalStateException] {
      gate.compact(currentBatchId = 1L)
    }
    assert(ex2.getMessage.contains("corrupt gate-state META"))
    // all-digit but longer than a Long (a torn/duplicated write):
    // same named error, never a raw NumberFormatException
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/base/META"),
      "99999999999999999999 0")
    val ex3 = intercept[IllegalStateException] {
      gate.compact(currentBatchId = 1L)
    }
    assert(ex3.getMessage.contains("corrupt gate-state META"))
  }

  test("gate: in-batch dup, corpus dup across batches, admission") {
    implicit val sq = spark.sqlContext
    val state = tmp()
    val in = MemoryStream[(Long, String)]
    val gate = new IngestGate(spark, state)
    val q = gate.start(in.toDF().toDF("doc_id", "text"), tmp())
    // batch 0: doc 3 is an exact copy of doc 1 (same batch)
    in.addData((1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different content here"),
      (3L, "alpha beta gamma delta epsilon"))
    q.processAllAvailable()
    // batch 1: doc 4 copies doc 1 (now corpus), doc 5 is fresh
    in.addData((4L, "alpha beta gamma delta epsilon"),
      (5L, "novel fresh unrelated words"))
    q.processAllAvailable()
    q.stop()
    val v = gate.readVerdicts(1L)
      .select("doc_id", "verdict", "dup_of")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(v(1L) == (("admitted", None)))
    assert(v(2L) == (("admitted", None)))
    assert(v(3L) == (("dup_in_batch", Some(1L))))
    assert(v(4L) == (("dup_of_corpus", Some(1L))))
    assert(v(5L) == (("admitted", None)))
    // corpus holds exactly the admitted docs' bands
    val corpusIds = spark.read.parquet(s"$state/corpus")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(corpusIds == Set(1L, 2L, 5L))
    // batch stats observed on the verdicts write itself
    val st = gate.lastStats.get
    assert((st.batchId, st.nAdmitted, st.nDupInBatch, st.nDupCorpus) ==
      ((1L, 1L, 0L, 1L)))
  }

  test("gate: probeCap guard idle on light bands, verdicts unchanged") {
    // the same two-batch fixture through a probeCap'd gate: no band
    // here exceeds the cap, so the guarded probe must produce
    // byte-identical verdicts (the heavy-band bound itself is pinned
    // against synthetic band tables in DedupSkewSpec)
    val state = tmp()
    val gate = new IngestGate(spark, state, probeCap = 8)
    gate.applyBatch(Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different content here"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"), 0L)
    gate.applyBatch(Seq((4L, "alpha beta gamma delta epsilon"),
      (5L, "novel fresh unrelated words")).toDF("doc_id", "text"), 1L)
    val v = gate.readVerdicts(1L)
      .select("doc_id", "verdict", "dup_of")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(v(3L) == (("dup_in_batch", Some(1L))))
    assert(v(4L) == (("dup_of_corpus", Some(1L))))
    assert(Seq(1L, 2L, 5L).forall(i => v(i)._1 == "admitted"))
  }

  test("gate: DEFAULT construction carries a finite probeCap") {
    // a production gate built with no arguments must route heavy
    // bands through the star-collapse guard — the unbounded probe is
    // opt-in (explicit Int.MaxValue), never inherited silently
    assert(IngestGate.DefaultProbeCap < Int.MaxValue)
    assert(IngestGate.DefaultProbeCap > 0)
    // and the defaulted gate still produces the fixture's verdicts
    val state = tmp()
    val gate = new IngestGate(spark, state)
    gate.applyBatch(Seq((1L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"), 0L)
    val v = gate.readVerdicts(0L)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v(1L) == "admitted" && v(3L) == "dup_in_batch")
  }

  test("gate: duplicate doc_ids within one batch collapse to one row") {
    val state = tmp()
    val gate = new IngestGate(spark, state)
    // strict id_a < id_b pairing can never pair identical ids, so
    // without the dropDuplicates guard BOTH copies would be admitted
    val b0 = Seq((1L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "unrelated words entirely")).toDF("doc_id", "text")
    gate.applyBatch(b0, 0L)
    val v = gate.readVerdicts(0L).select("doc_id").as[Long].collect().toSeq
    assert(v.sorted == Seq(1L, 2L), "one verdict row per doc_id")
    val bandRows = spark.read.parquet(s"$state/corpus")
      .filter(col("doc_id") === 1L).count()
    assert(bandRows == 2L, "one band-row set (k/rowsPerBand bands), not two")
  }

  test("gate: compaction preserves verdicts and probes base scan-side") {
    val stateA = tmp(); val stateB = tmp()
    val gateA = new IngestGate(spark, stateA, numBuckets = 4)
    val gateB = new IngestGate(spark, stateB, numBuckets = 4)
    val b0 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different content here")).toDF("doc_id", "text")
    val b1 = Seq((5L, "novel fresh unrelated words")).toDF("doc_id", "text")
    // doc 10 matches base (batch 0's doc 1), doc 11 matches the
    // not-yet-folded recent partition (batch 1's doc 5), doc 12 fresh
    val b2 = Seq((10L, "alpha beta gamma delta epsilon"),
      (11L, "novel fresh unrelated words"),
      (12L, "yet another brand new document")).toDF("doc_id", "text")
    for (g <- Seq(gateA, gateB)) { g.applyBatch(b0, 0L); g.applyBatch(b1, 1L) }
    // compact gate A only: folds batch 0 into base gen 1, keeps batch 1
    assert(gateA.compact() == 1L)
    // idempotent: nothing new below the watermark to fold
    assert(gateA.compact() == 1L)
    assert(gateA.baseIndex().isDefined)
    gateA.applyBatch(b2, 2L); gateB.applyBatch(b2, 2L)
    def verdicts(g: IngestGate) = g.readVerdicts(2L)
      .select("doc_id", "verdict", "dup_of", "best_jac", "batch")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toSet
    assert(verdicts(gateA) == verdicts(gateB),
      "split-probe over compacted base must equal the uncompacted gate")
    // plan shape: joining the bucketed base on band_key shuffles ONLY
    // the probe side — the corpus scan itself carries the partitioning
    val (aqe, bcast) = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq((99L, Array(1L, 2L), "0:k")).toDF("doc_id", "hs", "band_key")
      val joined = gateA.baseIndex().get.select("doc_id", "hs", "band_key")
        .join(probe, Seq("band_key"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"base side must be a bucketed scan:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"only the probe side may shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("gate: vacuum reclaims folded, orphaned, and superseded state") {
    val state = tmp()
    val gate = new IngestGate(spark, state, numBuckets = 4)
    gate.applyBatch(Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text"), 0L)
    gate.applyBatch(Seq((2L, "unrelated words entirely"))
      .toDF("doc_id", "text"), 1L)
    gate.applyBatch(Seq((3L, "third batch fresh text"))
      .toDF("doc_id", "text"), 2L)
    // orphan: a crashed future attempt beyond the committed mark —
    // never probed (batch < n guard) but polluting readVerdicts
    gate.applyBatch(Seq((9L, "orphan attempt content"))
      .toDF("doc_id", "text"), 7L)
    // the committed position caps the watermark: folds batches 0 and
    // 1, keeps batch 2 (replayable) AND refuses to let orphan dir 7
    // masquerade as the high-water mark
    assert(gate.compact(currentBatchId = 2L) == 2L)
    val removed = gate.vacuum(currentBatchId = 2L)
    // corpus: batch=0, batch=1 (folded) + batch=7 (orphan); verdicts:
    // batch=7 (orphan) — base gen 1 is current, nothing superseded yet
    assert(removed == 4, s"expected 4 dirs removed, got $removed")
    assert(gate.readVerdicts(7L).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // the probe still sees every admitted doc: a copy of doc 1 (now
    // base-resident) is recognized after vacuum
    gate.applyBatch(Seq((20L, "alpha beta gamma delta"))
      .toDF("doc_id", "text"), 3L)
    val v3 = gate.readVerdicts(3L).filter(col("batch") === 3)
      .select("verdict", "dup_of").collect().head
    assert((v3.getString(0), v3.getLong(1)) == (("dup_of_corpus", 1L)))
    // second compaction supersedes gen 1; vacuum drops it
    gate.applyBatch(Seq((21L, "one more closing batch"))
      .toDF("doc_id", "text"), 4L)
    assert(gate.compact(currentBatchId = 4L) == 4L)
    assert(gate.vacuum(currentBatchId = 4L) >= 3)
  }

  test("gate: readVerdicts hides verdict dirs beyond upTo") {
    val gate = new IngestGate(spark, tmp())
    gate.applyBatch(Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text"), 0L)
    gate.applyBatch(Seq((2L, "unrelated words entirely"))
      .toDF("doc_id", "text"), 1L)
    // a rolled-back attempt's verdict dir, not yet vacuumed
    gate.applyBatch(Seq((9L, "orphan attempt content"))
      .toDF("doc_id", "text"), 5L)
    assert(gate.readVerdicts(1L).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))
    assert(gate.readVerdicts(5L).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 9L))
  }

  test("gate: compactEvery runs maintenance inside the streaming loop") {
    implicit val sq = spark.sqlContext
    val state = tmp()
    val in = MemoryStream[(Long, String)]
    val gate = new IngestGate(spark, state, numBuckets = 4)
    val q = gate.start(in.toDF().toDF("doc_id", "text"), tmp(),
      compactEvery = 2)
    in.addData((1L, "alpha beta gamma delta epsilon")); q.processAllAvailable()
    in.addData((2L, "totally different content here")); q.processAllAvailable()
    in.addData((3L, "third batch novel words")); q.processAllAvailable()
    // batch 2 triggered compact+vacuum: batches 0 and 1 folded into
    // base gen 1 and their corpus dirs reclaimed, batch 2 kept
    assert(gate.baseIndex().isDefined, "maintenance must have committed a base")
    val corpusDirs = new java.io.File(s"$state/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(corpusDirs == Set("batch=2"), s"got $corpusDirs")
    // a copy of the base-resident doc 1 is still recognized
    in.addData((4L, "alpha beta gamma delta epsilon")); q.processAllAvailable()
    q.stop()
    val v = gate.readVerdicts(3L).filter(col("batch") === 3)
      .select("verdict", "dup_of").collect().head
    assert((v.getString(0), v.getLong(1)) == (("dup_of_corpus", 1L)))
    assert(gate.readVerdicts(3L).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("gate: batch replay overwrites its own partition (idempotent)") {
    val state = tmp()
    val gate = new IngestGate(spark, state)
    val b0 = Seq((1L, "alpha beta gamma delta"), (2L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    gate.applyBatch(b0, 0L)
    val b1 = Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    gate.applyBatch(b1, 1L)
    // replay batch 1 (crash-recovery path): same verdict, no
    // double-admission, and the corpus it probes excludes its own
    // half-written partition
    gate.applyBatch(b1, 1L)
    val v = gate.readVerdicts(1L).filter(col("batch") === 1)
      .select("doc_id", "verdict", "dup_of").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(v.toSeq == Seq((3L, "dup_of_corpus", 1L)))
    val corpus = spark.read.parquet(s"$state/corpus")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(corpus == Set(1L, 2L))
  }
}
