package graft

import graft.model._
import graft.sink.{DstTable, TableMeta, TransactionalStore}
import graft.streaming.CdcEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Store vacuum: unreferenced data files and old manifests are
  * collected; the committed state is untouched and still readable.
  */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  test("vacuum removes orphans, keeps the committed state readable") {
    val root = Files.createTempDirectory("graft-vac").toString
    val meta = TableMeta("users", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))), Seq("id"))
    val cfg = EngineConfig("vac",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> meta))
    e.bootstrap()
    def frame(lines: (String, Long, Long)*) =
      lines.toSeq.toDF("value", "partitionId", "offset")
        .withColumn("tableId", lit(0))
    // several commits so early versions become garbage
    for (i <- 1 to 4) {
      e.processBatch(frame(
        (s"""{"update":{"name":"v$i"},"key":[1],"ts":[$i,1]}""", 0L, i * 2L),
        (s"""{"resolved":[${i + 1},0]}""", 0L, i * 2L + 1)), i.toLong)
    }
    val before = e.readTable("users").collect().map(_.toSeq).toSet
    val deleted = TransactionalStore.vacuum(s"$root/dst", keepManifests = 1)
    assert(deleted > 0)
    assert(e.readTable("users").collect().map(_.toSeq).toSet == before)
    // a fresh engine still recovers from the vacuumed store
    val e2 = new CdcEngine(spark, cfg, Map(0 -> meta))
    assert(e2.readTable("users").collect().map(_.toSeq).toSet == before)
  }

  test("time travel resolves retained versions, refuses vacuumed ones") {
    val root = Files.createTempDirectory("graft-tt").toString
    val meta = TableMeta("users", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))), Seq("id"))
    val cfg = EngineConfig("tt",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4)
    val e = new CdcEngine(spark, cfg, Map(0 -> meta))
    e.bootstrap()
    def frame(lines: (String, Long, Long)*) =
      lines.toSeq.toDF("value", "partitionId", "offset")
        .withColumn("tableId", lit(0))
    val versions = (1 to 3).map { i =>
      e.processBatch(frame(
        (s"""{"update":{"name":"v$i"},"key":[1],"ts":[$i,1]}""", 0L, i * 2L),
        (s"""{"resolved":[${i + 1},0]}""", 0L, i * 2L + 1)), i.toLong)
      e.storeVersion
    }
    // each retained snapshot replays its own committed value
    for ((v, i) <- versions.zipWithIndex) {
      val got = e.readTableAt("users", v)
        .select("name").collect().map(_.getString(0)).toSeq
      assert(got === Seq(s"v${i + 1}"), s"snapshot v$v")
    }
    // CoW carry-forward means old manifests can still reference live
    // files; vacuum always prunes manifests PAST retention though,
    // and readAt must refuse those versions outright
    TransactionalStore.vacuum(s"$root/dst", keepManifests = 0)
    intercept[IllegalArgumentException] {
      TransactionalStore.readAt(s"$root/dst", versions.head)
    }
    // the head version survives and still reads
    assert(e.readTableAt("users", e.storeVersion)
      .select("name").collect().map(_.getString(0)).toSeq === Seq("v3"))
  }

  test("every retained version reads after folds inside the window; an aborted fold is reclaimed") {
    val root = Files.createTempDirectory("graft-vacfold").toString
    val meta = TableMeta("users", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))), Seq("id"))
    // one bucket that folds every second commit: each fold moves the
    // head's base to a new c<commit> dir, away from what older
    // versions read
    val cfg = EngineConfig("vacfold",
      Seq(StreamConfig(0, s"$root/src", "users", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 1, compactDeltas = 2)
    val e = new CdcEngine(spark, cfg, Map(0 -> meta))
    e.bootstrap()
    def frame(lines: (String, Long, Long)*) =
      lines.toSeq.toDF("value", "partitionId", "offset")
        .withColumn("tableId", lit(0))
    val versions = (1 to 5).map { i =>
      e.processBatch(frame(
        (s"""{"update":{"name":"v$i"},"key":[1],"ts":[$i,1]}""", 0L, i * 2L),
        (s"""{"resolved":[${i + 1},0]}""", 0L, i * 2L + 1)), i.toLong)
      e.storeVersion -> s"v$i"
    }
    val dst = s"$root/dst"
    assert(versions.exists { case (v, _) =>
      TransactionalStore.readAt(dst, v).tables("users").deltaFiles.nonEmpty },
      "no commit left a chain")
    // a fold written but never committed: an orphan c<commit>
    val head = TransactionalStore.read(dst)
    val patch = Seq((1L, 0, Map("name" -> "orphan"), false))
      .toDF("k", "op", "columns", "erased")
      .select(array(col("k").cast("string")).as("keyJson"),
        col("op"), col("columns"), col("erased"))
    DstTable.applyPatch(spark, dst, meta, 1, head.tables("users"), patch,
      head.version + 1, compactDeltas = 1)
    val orphan = Paths.get(dst, "tables", "users", s"c${head.version + 1}")
    assert(TransactionalStore.partFiles(orphan.toString).nonEmpty)

    assert(TransactionalStore.vacuum(dst) > 0)
    assert(TransactionalStore.partFiles(orphan.toString).isEmpty,
      "the aborted fold's files survived vacuum")
    for ((v, name) <- versions)
      assert(e.readTableAt("users", v).select("name").collect()
        .map(_.getString(0)).toSeq === Seq(name), s"version $v")
  }
}
