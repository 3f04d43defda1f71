package graft

import graft.model.Op
import graft.sink.{DstTable, TableMeta, TransactionalStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}

/** The merge-on-read destination path (DstTable.applyPatch
  * mergeOnRead=true): delta chains must replay to EXACTLY the
  * copy-on-write state under any patch sequence, compaction must fold
  * chains without changing contents, and — the reason the mode exists
  * — bytes written per commit must scale with the PATCH, not the
  * table.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private val meta = TableMeta("t",
    StructType(Seq(
      StructField("id", LongType),
      StructField("a", StringType),
      StructField("b", IntegerType),
      StructField("c", StringType))),
    Seq("id"))
  private val Buckets = 4

  /** patch rows: (key, op, cols, erased) in the merged-patch shape. */
  private def patchDF(rows: Seq[(Long, Int, Map[String, String], Boolean)])
      : DataFrame =
    rows.toDF("k", "op", "columns", "erased")
      .select(array(col("k").cast("string")).as("keyJson"),
        col("op"), col("columns"), col("erased"))

  private def freshRoot(): String = {
    val r = Files.createTempDirectory("graft-mor").toString
    Files.createDirectories(Paths.get(r, "tables"))
    r
  }

  private def apply(root: String, tv: TransactionalStore.TableVersion,
      rows: Seq[(Long, Int, Map[String, String], Boolean)], commit: Long,
      mor: Boolean, compactDeltas: Int = 100)
      : TransactionalStore.TableVersion =
    DstTable.applyPatch(spark, root, meta, Buckets, tv, patchDF(rows),
      commit, mergeOnRead = mor, compactDeltas = compactDeltas)._1

  private def contents(tv: TransactionalStore.TableVersion)
      : Set[(Long, Option[String], Option[Int], Option[String])] =
    DstTable.readCurrent(spark, meta, tv).collect().map { r =>
      (r.getAs[Long]("id"), Option(r.getAs[String]("a")),
        Option(r.get(r.fieldIndex("b"))).map(_.asInstanceOf[Int]),
        Option(r.getAs[String]("c")))
    }.toSet

  private def fileBytes(tv: TransactionalStore.TableVersion): Long =
    (tv.bucketFiles.values.flatten ++ tv.deltaFiles.values.flatten)
      .map(f => Files.size(Paths.get(f))).sum

  private def newBytes(before: TransactionalStore.TableVersion,
      after: TransactionalStore.TableVersion): Long = {
    val old = (before.bucketFiles.values.flatten ++
      before.deltaFiles.values.flatten).toSet
    (after.bucketFiles.values.flatten ++ after.deltaFiles.values.flatten)
      .filterNot(old).map(f => Files.size(Paths.get(f))).sum
  }

  private val empty = TransactionalStore.TableVersion(Map.empty)

  test("delta replay equals copy-on-write under a randomized patch sequence") {
    val rnd = new scala.util.Random(42)
    val cols = Seq("a", "b", "c")
    def randomPatch(): Seq[(Long, Int, Map[String, String], Boolean)] = {
      val keys = rnd.shuffle((1L to 12L).toList).take(1 + rnd.nextInt(6))
      keys.map { k =>
        if (rnd.nextInt(4) == 0) (k, Op.Erase, Map.empty[String, String], true)
        else {
          val set = cols.filter(_ => rnd.nextBoolean()) match {
            case Nil => Seq("a")
            case s => s
          }
          val m = set.map {
            case "b" => "b" -> rnd.nextInt(100).toString
            case n => n -> s"v${rnd.nextInt(50)}"
          }.toMap
          (k, Op.Update, m, rnd.nextInt(5) == 0) // sometimes in-batch-erased
        }
      }
    }
    val rootM = freshRoot(); val rootC = freshRoot()
    var tvM = empty; var tvC = empty
    for (commit <- 1L to 8L) {
      val p = randomPatch()
      tvM = apply(rootM, tvM, p, commit, mor = true)
      tvC = apply(rootC, tvC, p, commit, mor = false)
      assert(contents(tvM) == contents(tvC),
        s"diverged at commit $commit")
    }
    assert(tvM.deltaFiles.nonEmpty, "MoR run should have live delta chains")
    assert(tvC.deltaFiles.isEmpty)
    // every delta row carries the version of the commit that wrote it
    // (the d<commit> directory): the chain fold orders by it
    tvM.deltaFiles.values.flatten.foreach { f =>
      val commit = Paths.get(f).getParent.getParent.getFileName.toString
        .stripPrefix("d").toLong
      val seqs = spark.read.parquet(f).select("__seq").distinct()
        .collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(commit), s"$f carries __seq $seqs")
    }
    // the same chains through the over-threshold SMJ fallback
    val saved = DstTable.DeltaBroadcastMaxBytes
    DstTable.DeltaBroadcastMaxBytes = 0L
    try assert(contents(tvM) == contents(tvC), "fallback path diverged")
    finally DstTable.DeltaBroadcastMaxBytes = saved
  }

  test("broadcast read plan never shuffles the base; fallback SMJ agrees") {
    val root = freshRoot()
    var tv = apply(root, empty,
      (1 to 200).map(i => (i.toLong, Op.Update,
        Map("a" -> s"v$i", "b" -> i.toString), false)), 1L, mor = false)
    tv = apply(root, tv,
      Seq((3L, Op.Update, Map("b" -> "33"), false),
        (999L, Op.Update, Map("a" -> "new"), false),
        (4L, Op.Erase, Map.empty[String, String], true)),
      2L, mor = true)
    val plan = DstTable.readCurrent(spark, meta, tv)
      .queryExecution.executedPlan.toString
    // the base streams through broadcast anti/semi joins; the only
    // full-outer (and its exchanges) is chain-sized
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti") && plan.contains("LeftSemi"), plan.take(1500))
    val viaBroadcast = contents(tv)
    assert(viaBroadcast.exists(r => r._1 == 3L && r._3 == Some(33)))
    assert(viaBroadcast.exists(r => r._1 == 999L && r._2 == Some("new")))
    assert(!viaBroadcast.exists(_._1 == 4L))
    // force the over-threshold fallback (shuffled full-outer): same rows
    val saved = DstTable.DeltaBroadcastMaxBytes
    DstTable.DeltaBroadcastMaxBytes = 0L
    try {
      val planF = DstTable.readCurrent(spark, meta, tv)
        .queryExecution.executedPlan.toString
      assert(planF.contains("FullOuter"), planF.take(1500))
      assert(contents(tv) == viaBroadcast)
    } finally DstTable.DeltaBroadcastMaxBytes = saved
  }

  test("cross-commit erase/replace semantics through the delta fold") {
    val root = freshRoot()
    var tv = empty
    // commit 1: full row
    tv = apply(root, tv,
      Seq((1L, Op.Update, Map("a" -> "x", "b" -> "5", "c" -> "z"), false)),
      1L, mor = true)
    // commit 2: partial update overlays (a untouched)
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "7"), false)),
      2L, mor = true)
    assert(contents(tv) == Set((1L, Some("x"), Some(7), Some("z"))))
    // commit 3: erase deletes
    tv = apply(root, tv, Seq((1L, Op.Erase, Map.empty[String, String], true)),
      3L, mor = true)
    assert(contents(tv).isEmpty)
    // commit 4: update after the erase REPLACES — a and c are dead
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "9"), false)),
      4L, mor = true)
    assert(contents(tv) == Set((1L, None, Some(9), None)))
    // commit 5: in-batch-erased update replaces again
    tv = apply(root, tv, Seq((1L, Op.Update, Map("a" -> "w"), true)),
      5L, mor = true)
    assert(contents(tv) == Set((1L, Some("w"), None, None)))
    // unmatched delete is a no-op
    tv = apply(root, tv, Seq((99L, Op.Erase, Map.empty[String, String], true)),
      6L, mor = true)
    assert(contents(tv) == Set((1L, Some("w"), None, None)))
  }

  test("bytes written per MoR commit scale with the patch, not the table") {
    def seed(n: Int): Seq[(Long, Int, Map[String, String], Boolean)] =
      (1 to n).map(i =>
        (i.toLong, Op.Update,
          Map("a" -> s"payload-$i-${"x" * 40}", "b" -> i.toString), false))
    val onePatch = Seq(
      (1L, Op.Update, Map("b" -> "777"), false),
      (2L, Op.Update, Map("a" -> "tiny"), false))

    // small table vs 8x table, same two-row patch
    val rootS = freshRoot(); val rootL = freshRoot()
    val tvS0 = apply(rootS, empty, seed(500), 1L, mor = false)
    val tvL0 = apply(rootL, empty, seed(4000), 1L, mor = false)
    val morS = newBytes(tvS0, apply(rootS, tvS0, onePatch, 2L, mor = true))
    val morL = newBytes(tvL0, apply(rootL, tvL0, onePatch, 2L, mor = true))
    // delta bytes are the SAME rows on both tables — table size must
    // not leak in (parquet footer noise tolerated)
    assert(math.abs(morS - morL) <= math.max(morS, morL) / 5,
      s"MoR bytes drifted with table size: $morS vs $morL")

    // the CoW twin of the same commit rewrites affected buckets and
    // MUST grow with the table — and dominate the MoR write
    val cowL = newBytes(tvL0, apply(rootL, tvL0, onePatch, 3L, mor = false))
    assert(cowL > morL * 4,
      s"CoW rewrite ($cowL B) should dwarf the MoR delta ($morL B)")
  }

  test("compaction folds chains at the threshold and preserves contents") {
    val root = freshRoot()
    var tv = apply(root, empty,
      (1 to 40).map(i => (i.toLong, Op.Update,
        Map("a" -> s"v$i", "b" -> i.toString), false)),
      1L, mor = false)
    // 3 delta commits per bucket land under the threshold of 4...
    for (c <- 2L to 4L)
      tv = apply(root, tv,
        (1 to 40).map(i => (i.toLong, Op.Update,
          Map("b" -> (i * 100 + c).toInt.toString), false)),
        c, mor = true, compactDeltas = 4)
    assert(tv.deltaFiles.values.forall(_.size == 3))
    val before = contents(tv)
    // ...the 4th triggers the per-bucket fold: chains consumed, base
    // rewritten, contents = the same replay
    tv = apply(root, tv,
      (1 to 40).map(i => (i.toLong, Op.Update,
        Map("b" -> (i * 100 + 5).toString), false)),
      5L, mor = true, compactDeltas = 4)
    assert(tv.deltaFiles.isEmpty, "all chains hit the threshold together")
    val expected = before.map { case (id, a, _, c) =>
      (id, a, Some((id * 100 + 5).toInt), c) }
    assert(contents(tv) == expected)
    // and the table keeps absorbing deltas afterwards
    tv = apply(root, tv, Seq((7L, Op.Erase, Map.empty[String, String], true)),
      6L, mor = true, compactDeltas = 4)
    assert(!contents(tv).exists(_._1 == 7L))
  }

  test("a CoW commit consumes standing delta chains (mode interop)") {
    val root = freshRoot()
    var tv = apply(root, empty,
      Seq((1L, Op.Update, Map("a" -> "base", "b" -> "1"), false),
        (2L, Op.Update, Map("a" -> "keep", "b" -> "2"), false)),
      1L, mor = false)
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "10"), false)),
      2L, mor = true)
    assert(tv.deltaFiles.nonEmpty)
    // CoW rewrite of the affected bucket must fold the chain in, not
    // lose it or apply it twice
    tv = apply(root, tv, Seq((1L, Op.Update, Map("c" -> "cc"), false)),
      3L, mor = false)
    assert(contents(tv).contains((1L, Some("base"), Some(10), Some("cc"))))
    assert(contents(tv).contains((2L, Some("keep"), Some(2), None)))
    // the only chain lived in key 1's bucket — the rewrite consumed it
    assert(tv.deltaFiles.isEmpty)
  }

  test("manifest render/parse roundtrips delta chains; legacy parses") {
    val m = TransactionalStore.Manifest(3L,
      graft.model.ReplicationState("i", 1L, 2L, "OK", "RUN", ""),
      Map("t" -> TransactionalStore.TableVersion(
        Map(0 -> Seq("/x/b0.parquet")),
        Map(0 -> Seq("/x/d1.parquet", "/x/d2.parquet")))),
      Seq("/p/f.parquet"), 7L, 5L)
    val root = freshRoot()
    Files.createDirectories(Paths.get(root, "manifest"))
    Files.writeString(Paths.get(root, "manifest", "v3.json"),
      renderVia(m))
    Files.writeString(Paths.get(root, "MANIFEST"), "3")
    val back = TransactionalStore.read(root)
    assert(back == m)
    // legacy (pre-delta) table node: bucket map directly under the name
    val legacy = """{"version":1,"fencingToken":0,"lastBatchId":-1,
      |"id":"i","stepId":0,"txId":0,"state":"OK","stage":"RUN","lastMsg":"",
      |"tables":{"t":{"0":["/x/old.parquet"]}},"pending":[]}"""
      .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(root, "manifest", "v1.json"), legacy)
    val old = TransactionalStore.readAt(root, 1L)
    assert(old.tables("t") ==
      TransactionalStore.TableVersion(Map(0 -> Seq("/x/old.parquet"))))
  }

  /** Render through a real commit (render is private): write the
    * manifest via the public commit against a seeded head.
    */
  private def renderVia(m: TransactionalStore.Manifest): String = {
    val root = freshRoot()
    TransactionalStore.initIfAbsent(root, "i", Seq("t"))
    TransactionalStore.commit(root, m)
    Files.readString(Paths.get(root, "manifest", s"v${m.version}.json"))
  }

  test("schema evolution: widened meta overlays old base and delta files") {
    // ALTER TABLE ADD COLUMN, Spark-native: the new TableMeta simply
    // carries one more nullable field; parquet read-with-wider-schema
    // fills it with null in every pre-evolution base AND delta file,
    // and the present-mask merge treats it like any never-set column.
    // No rewrite of existing files — the 100 TB property.
    val narrow = TableMeta("ev", StructType(Seq(
      StructField("id", LongType), StructField("a", StringType))),
      Seq("id"))
    val wide = TableMeta("ev", StructType(Seq(
      StructField("id", LongType), StructField("a", StringType),
      StructField("d", IntegerType))), Seq("id"))
    val root = freshRoot()
    def patch(meta: TableMeta, tv: TransactionalStore.TableVersion,
        rows: Seq[(Long, Int, Map[String, String], Boolean)], commit: Long) =
      DstTable.applyPatch(spark, root, meta, Buckets, tv, patchDF(rows),
        commit, mergeOnRead = true, compactDeltas = 100)._1
    // two commits under the NARROW schema: a base, then a delta chain
    var tv = patch(narrow, empty, Seq(
      (1L, Op.Update, Map("a" -> "x"), false),
      (2L, Op.Update, Map("a" -> "y"), false)), 1L)
    tv = patch(narrow, tv, Seq(
      (2L, Op.Update, Map("a" -> "y2"), false)), 2L)
    // widen, then set the NEW column for key 1 only
    val preEvolutionFiles =
      (tv.bucketFiles.values.flatten ++ tv.deltaFiles.values.flatten).toSet
    tv = patch(wide, tv, Seq(
      (1L, Op.Update, Map("d" -> "7"), false)), 3L)
    def readWide(v: TransactionalStore.TableVersion) =
      DstTable.readCurrent(spark, wide, v).collect().map { r =>
        (r.getAs[Long]("id"), r.getAs[String]("a"),
          Option(r.get(r.fieldIndex("d"))).map(_.asInstanceOf[Int]))
      }.toSet
    assert(readWide(tv) == Set(
      (1L, "x", Some(7)), (2L, "y2", None)))
    // evolution never rewrote a pre-existing file
    assert(preEvolutionFiles.forall(f => Files.exists(Paths.get(f))))
    // compaction through the widened schema folds the mixed-schema
    // chain without changing contents
    val compacted = patch(wide, tv, Seq(
      (3L, Op.Update, Map("a" -> "z", "d" -> "9"), false)), 4L)
    val folded = DstTable.applyPatch(spark, root, wide, Buckets, compacted,
      patchDF(Seq((3L, Op.Update, Map("a" -> "z2"), false))), 5L,
      mergeOnRead = true, compactDeltas = 1)._1
    assert(folded.deltaFiles.isEmpty)
    assert(readWide(folded) == Set(
      (1L, "x", Some(7)), (2L, "y2", None), (3L, "z2", Some(9))))
    // and a column the WIDE schema still doesn't know stays a hard error
    intercept[IllegalArgumentException] {
      patch(wide, folded, Seq(
        (1L, Op.Update, Map("nope" -> "1"), false)), 6L)
    }
  }
}
