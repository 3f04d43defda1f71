package graft

import graft.model._
import graft.sink.{DstTable, TableMeta, TransactionalStore, TypeConversion}
import graft.streaming.CdcEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}

/** The merge-on-read destination path (DstTable.applyPatch with
  * compactDeltas > 1): delta chains and the folds that consume them
  * must replay to EXACTLY the copy-on-write state under any patch
  * sequence (the reference model below), and — the reason the mode
  * exists — bytes written per commit must scale with the PATCH, not
  * the table.
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
      compactDeltas: Int = 100): TransactionalStore.TableVersion =
    DstTable.applyPatch(spark, root, meta, Buckets, tv, patchDF(rows),
      commit, compactDeltas = compactDeltas)._1

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

  private type Row4 = (Long, Option[String], Option[Int], Option[String])

  /** Reference model: the copy-on-write full-outer join the sink
    * applied each commit before the fold existed — the table's rows
    * joined with one commit's typed patch. An erase drops the matched
    * row; an update sets its present columns, and after an in-batch
    * erase (`erased`) REPLACES the row (absent columns become NULL).
    */
  private def cowReference(state: Set[Row4],
      rows: Seq[(Long, Int, Map[String, String], Boolean)]): Set[Row4] = {
    val pk = meta.primaryKey
    val nonKey = meta.nonKeyColumns
    val old = state.toSeq.toDF(meta.schema.fieldNames.toSeq: _*)
      .select((pk.map(k => col(k).as(s"__k_$k")) ++
        nonKey.map(c => col(c).as(s"__o_$c"))): _*)
    val pat = patchDF(rows).select((TypeConversion.project(meta.schema, pk,
        col("columns"), col("keyJson")) ++ Seq(col("op"),
        coalesce(col("erased"), lit(false)).as("erased"),
        TypeConversion.presentColumns(meta.schema, pk, col("columns"))
          .as("present"))): _*)
      .select((pk.map(k => col(k).as(s"__pk_$k")) ++
        nonKey.map(c => col(c).as(s"__p_$c")) ++
        Seq(col("op"), col("erased"), col("present"))): _*)
    old.join(pat, pk.map(k => old(s"__k_$k") <=> pat(s"__pk_$k")).reduce(_ && _),
        "full_outer")
      .filter(col("op").isNull || col("op") =!= Op.Erase)
      .select((pk.map(k => coalesce(col(s"__k_$k"), col(s"__pk_$k")).as(k)) ++
        nonKey.map { c =>
          val present = array_contains(coalesce(col("present"), array()), c)
          when(col("op").isNotNull && col("erased"),
            when(present, col(s"__p_$c")).otherwise(lit(null)))
            .when(col("op").isNotNull && present, col(s"__p_$c"))
            .otherwise(col(s"__o_$c")).as(c)
        }): _*)
      .as[Row4].collect().toSet
  }

  /** Read through the shuffled fold (the over-threshold fallback). */
  private def viaFallback[T](f: => T): T = {
    val saved = DstTable.DeltaBroadcastMaxBytes
    DstTable.DeltaBroadcastMaxBytes = 0L
    try f finally DstTable.DeltaBroadcastMaxBytes = saved
  }

  private def bucketOfKey(k: Long): Int =
    Seq(k).toDF("id").select(DstTable.bucketOf(meta, Buckets)).head().getInt(0)

  /** Compact with the base split past the fold (true) or folded
    * whole (false). */
  private def splitting[T](split: Boolean)(f: => T): T = {
    val saved = DstTable.CompactSplitRatio
    DstTable.CompactSplitRatio = if (split) 0.0 else Double.PositiveInfinity
    try f finally DstTable.CompactSplitRatio = saved
  }

  test("delta replay equals copy-on-write under a randomized patch sequence") {
    val cols = Seq("a", "b", "c")
    // copy-on-write (compactDeltas 1); chains folding every 2, 3 and 8
    // commits, each with the base folded whole and split past the
    // fold; and chains that never fold (100), read up to 15 files
    // long. Keys 9-16 start as inserts with no base row.
    val runs = Seq((1, false, 10), (100, false, 16)) ++
      (for (cd <- Seq(2, 3, 8); split <- Seq(false, true))
        yield (cd, split, if (cd == 8) 24 else 10))
    for ((cd, split, commits) <- runs) {
      val rnd = new scala.util.Random(40 + cd)
      def value(c: String): String =
        if (rnd.nextInt(8) == 0) null // an explicit NULL
        else if (c == "b") rnd.nextInt(100).toString
        else s"v${rnd.nextInt(50)}"
      def randomPatch(commit: Long): Seq[(Long, Int, Map[String, String], Boolean)] = {
        val keys =
          if (commit == 1L) (1L to 8L).toList
          // few keys per commit, so due and not-due buckets mix
          else rnd.shuffle((1L to 16L).toList).take(1 + rnd.nextInt(4))
        keys.map { k =>
          if (commit > 1L && rnd.nextInt(4) == 0)
            (k, Op.Erase, Map.empty[String, String], true)
          else {
            val set = cols.filter(_ => rnd.nextBoolean()) match {
              case Nil => Seq("a")
              case s => s
            }
            // sometimes in-batch-erased: the update replaces the row
            (k, Op.Update, set.map(c => c -> value(c)).toMap, rnd.nextInt(5) == 0)
          }
        }
      }
      val root = freshRoot()
      var tv = empty
      var ref = Set.empty[Row4]
      var mixed = 0
      var longest = 0
      var deltasChecked = 0
      for (commit <- 1L to commits.toLong) {
        val p = randomPatch(commit)
        val next = splitting(split)(apply(root, tv, p, commit, cd))
        val folded = next.bucketFiles.values.flatten.toSet --
          tv.bucketFiles.values.flatten
        val appended = next.deltaFiles.values.flatten.toSet --
          tv.deltaFiles.values.flatten
        if (folded.nonEmpty && appended.nonEmpty) mixed += 1
        tv = next
        ref = cowReference(ref, p)
        val what = s"compactDeltas=$cd split=$split commit $commit"
        assert(contents(tv) == ref, s"$what diverged")
        assert(viaFallback(contents(tv)) == ref, s"$what: fallback diverged")
        if (cd == 1) assert(tv.deltaFiles.isEmpty, s"$what: copy-on-write left deltas")
        else {
          // a chain never outgrows compactDeltas - 1 files
          assert(tv.deltaFiles.values.forall(_.size <= cd - 1), what)
          if (cd == 100 && commit > 1L) assert(folded.isEmpty, s"$what folded")
        }
        longest = (longest +: tv.deltaFiles.values.map(_.size).toSeq).max
        // every delta row carries the version of the commit that wrote
        // it (the d<commit> directory): the fold orders by it
        appended.foreach { f =>
          val seqs = spark.read.parquet(f).select("__seq").distinct()
            .collect().map(_.getLong(0)).toSeq
          assert(seqs == Seq(commit), s"$what: $f carries __seq $seqs")
          deltasChecked += 1
        }
      }
      if (cd > 1) {
        assert(deltasChecked > 0, s"compactDeltas=$cd: no delta written")
        // the fold consumed chains of the full length (a chain of 100
        // never folds: it reached at least 8 files)
        assert(longest >= math.min(cd - 1, 8),
          s"compactDeltas=$cd: longest chain $longest")
      }
      if (cd > 1 && cd < 100)
        assert(mixed > 0, s"compactDeltas=$cd: no commit both folded and appended")
    }
  }

  // (the name predates the fold: the over-threshold fallback was a
  // sort-merge join and is now the shuffled fold asserted below)
  test("broadcast read plan never shuffles the base; fallback SMJ agrees") {
    val root = freshRoot()
    var tv = apply(root, empty,
      (1 to 200).map(i => (i.toLong, Op.Update,
        Map("a" -> s"v$i", "b" -> i.toString), false)), 1L, compactDeltas = 1)
    tv = apply(root, tv,
      Seq((3L, Op.Update, Map("b" -> "33"), false),
        (999L, Op.Update, Map("a" -> "new"), false),
        (4L, Op.Erase, Map.empty[String, String], true)),
      2L)
    // (scans of the base, whether one reaches an exchange without a
    // broadcast semi join cutting it to chain-sized rows first)
    def baseShape(df: DataFrame): (Int, Boolean) = {
      def walk(p: SparkPlan, shuffled: Boolean): (Int, Boolean) = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, shuffled)
        case s: FileSourceScanExec =>
          if (s.relation.location.rootPaths.exists(_.toString.contains("/c1/")))
            (1, shuffled) else (0, false)
        case e: ShuffleExchangeExec => walk(e.child, true)
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi =>
          val (n1, s1) = walk(j.left, false)
          val (n2, s2) = walk(j.right, shuffled)
          (n1 + n2, s1 || s2)
        case other =>
          other.children.map(walk(_, shuffled))
            .foldLeft((0, false)) { case ((n, s), (m, t)) => (n + m, s || t) }
      }
      walk(df.queryExecution.executedPlan, false)
    }
    val read = DstTable.readCurrent(spark, meta, tv)
    val plan = read.queryExecution.executedPlan.toString
    // the base streams through broadcast anti/semi joins; only the
    // semi join's chain-sized output meets the fold's exchange
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti") && plan.contains("LeftSemi"), plan.take(1500))
    assert(baseShape(read) == ((2, false)), plan.take(3000))
    val viaBroadcast = contents(tv)
    assert(viaBroadcast.exists(r => r._1 == 3L && r._3 == Some(33)))
    assert(viaBroadcast.exists(r => r._1 == 999L && r._2 == Some("new")))
    assert(!viaBroadcast.exists(_._1 == 4L))
    // force the over-threshold fallback (the base folds with the
    // chain through one exchange, no join): same rows
    viaFallback {
      val readF = DstTable.readCurrent(spark, meta, tv)
      val planF = readF.queryExecution.executedPlan.toString
      assert(!planF.contains("Join"), planF.take(1500))
      assert(baseShape(readF) == ((1, true)), planF.take(3000))
      assert(contents(tv) == viaBroadcast)
    }
  }

  test("an unknown column at a folding commit leaves no c<commit> or d<commit> behind") {
    val root = freshRoot()
    var tv = apply(root, empty, (1L to 12L).map(k =>
      (k, Op.Update, Map("a" -> s"v$k"), false)), 1L, compactDeltas = 2)
    // key 1's bucket gets a chain, so it is due at the next commit
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "1"), false)),
      2L, compactDeltas = 2)
    assert(tv.deltaFiles.keySet == Set(bucketOfKey(1L)))
    val other = (2L to 12L).find(k => bucketOfKey(k) != bucketOfKey(1L)).get
    val before = contents(tv)
    // the unknown column rides the due bucket's rows (the fold aborts),
    // then a not-due bucket's rows (the delta append aborts after the
    // fold was written)
    for ((bad, commit) <- Seq((1L, 3L), (other, 4L))) {
      val rows = Seq(1L -> Map("b" -> "2"), other -> Map("a" -> "x")).map {
        case (k, m) => (k, Op.Update, if (k == bad) m + ("nope" -> "1") else m, false)
      }
      intercept[IllegalArgumentException] {
        apply(root, tv, rows, commit, compactDeltas = 2)
      }
      for (d <- Seq(s"c$commit", s"d$commit"))
        assert(!Files.exists(Paths.get(root, "tables", "t", d)), s"$d left behind")
      assert(contents(tv) == before)
    }
  }

  test("a throw between the fold write and the manifest swap leaves the prior version readable") {
    val ordersMeta = TableMeta("orders", StructType(Seq(
      StructField("id", LongType), StructField("total", IntegerType))), Seq("id"))
    val root = Files.createTempDirectory("graft-foldabort").toString
    val cfg = EngineConfig("foldabort",
      Seq(StreamConfig(0, s"$root/src0", "t", partitions = 1),
        StreamConfig(1, s"$root/src1", "orders", partitions = 1)),
      s"$root/dst", ProblemStrategy.Stop, buckets = 4, compactDeltas = 2)
    def engine(): CdcEngine = {
      val e = new CdcEngine(spark, cfg, Map(0 -> meta, 1 -> ordersMeta))
      e.bootstrap()
      e
    }
    var e = engine()
    def batch(b: Long, orders: String): Unit = {
      val q = 10L * (b + 1)
      e.processBatch(Seq(
        (s"""{"update":{"a":"a$b"},"key":[1],"ts":[${q - 5},1]}""", 0, 0L, 2 * b),
        (s"""{"update":$orders,"key":[7],"ts":[${q - 5},2]}""", 1, 0L, 2 * b),
        (s"""{"resolved":[$q,0]}""", 0, 0L, 2 * b + 1),
        (s"""{"resolved":[$q,0]}""", 1, 0L, 2 * b + 1))
        .toDF("value", "tableId", "partitionId", "offset"), b)
    }
    // initial scan, then a RUN commit that leaves a chain in each table
    batch(0L, """{"total":1}""")
    batch(1L, """{"total":2}""")
    val head = TransactionalStore.read(s"$root/dst")
    assert(head.tables.values.forall(_.deltaFiles.nonEmpty))
    val before = e.readTable("t").collect().map(_.toSeq).toSet
    // the next commit folds both tables; "t" writes its fold, then
    // orders fails on an unknown column before the manifest swap
    intercept[Exception](batch(2L, """{"nope":3}"""))
    val tDir = Paths.get(root, "dst", "tables", "t", s"c${head.version + 1}")
    assert(Files.exists(tDir), "the fold of t should have been written")
    assert(e.storeVersion == head.version)
    assert(e.readTable("t").collect().map(_.toSeq).toSet == before)
    assert(e.readTableAt("t", head.version).collect().map(_.toSeq).toSet == before)
    // a restarted engine retries the batch: the retry overwrites the
    // orphan fold and commits
    e = engine()
    batch(2L, """{"total":3}""")
    assert(e.readTable("t").collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2")))
    assert(e.readTable("orders").collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((7L, 3)))
    assert(TransactionalStore.read(s"$root/dst").tables.values.forall(_.deltaFiles.isEmpty))
  }

  test("cross-commit erase/replace semantics through the delta fold") {
    val root = freshRoot()
    var tv = empty
    // commit 1: full row
    tv = apply(root, tv,
      Seq((1L, Op.Update, Map("a" -> "x", "b" -> "5", "c" -> "z"), false)),
      1L)
    // commit 2: partial update overlays (a untouched)
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "7"), false)),
      2L)
    assert(contents(tv) == Set((1L, Some("x"), Some(7), Some("z"))))
    // commit 3: erase deletes
    tv = apply(root, tv, Seq((1L, Op.Erase, Map.empty[String, String], true)),
      3L)
    assert(contents(tv).isEmpty)
    // commit 4: update after the erase REPLACES — a and c are dead
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "9"), false)),
      4L)
    assert(contents(tv) == Set((1L, None, Some(9), None)))
    // commit 5: in-batch-erased update replaces again
    tv = apply(root, tv, Seq((1L, Op.Update, Map("a" -> "w"), true)),
      5L)
    assert(contents(tv) == Set((1L, Some("w"), None, None)))
    // unmatched delete is a no-op
    tv = apply(root, tv, Seq((99L, Op.Erase, Map.empty[String, String], true)),
      6L)
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
    val tvS0 = apply(rootS, empty, seed(500), 1L, compactDeltas = 1)
    val tvL0 = apply(rootL, empty, seed(4000), 1L, compactDeltas = 1)
    val morS = newBytes(tvS0, apply(rootS, tvS0, onePatch, 2L))
    val morL = newBytes(tvL0, apply(rootL, tvL0, onePatch, 2L))
    // delta bytes are the SAME rows on both tables — table size must
    // not leak in (parquet footer noise tolerated)
    assert(math.abs(morS - morL) <= math.max(morS, morL) / 5,
      s"MoR bytes drifted with table size: $morS vs $morL")

    // the CoW twin of the same commit rewrites affected buckets and
    // MUST grow with the table — and dominate the MoR write
    val cowL = newBytes(tvL0, apply(rootL, tvL0, onePatch, 3L, compactDeltas = 1))
    assert(cowL > morL * 4,
      s"CoW rewrite ($cowL B) should dwarf the MoR delta ($morL B)")
  }

  test("compaction folds chains at the threshold and preserves contents") {
    val root = freshRoot()
    var tv = apply(root, empty,
      (1 to 40).map(i => (i.toLong, Op.Update,
        Map("a" -> s"v$i", "b" -> i.toString), false)),
      1L, compactDeltas = 1)
    // 3 delta commits per bucket land under the threshold of 4...
    for (c <- 2L to 4L)
      tv = apply(root, tv,
        (1 to 40).map(i => (i.toLong, Op.Update,
          Map("b" -> (i * 100 + c).toInt.toString), false)),
        c, compactDeltas = 4)
    assert(tv.deltaFiles.values.forall(_.size == 3))
    val before = contents(tv)
    // ...the 4th triggers the per-bucket fold: chains consumed, base
    // rewritten, contents = the same replay
    tv = apply(root, tv,
      (1 to 40).map(i => (i.toLong, Op.Update,
        Map("b" -> (i * 100 + 5).toString), false)),
      5L, compactDeltas = 4)
    assert(tv.deltaFiles.isEmpty, "all chains hit the threshold together")
    val expected = before.map { case (id, a, _, c) =>
      (id, a, Some((id * 100 + 5).toInt), c) }
    assert(contents(tv) == expected)
    // and the table keeps absorbing deltas afterwards
    tv = apply(root, tv, Seq((7L, Op.Erase, Map.empty[String, String], true)),
      6L, compactDeltas = 4)
    assert(!contents(tv).exists(_._1 == 7L))
  }

  test("a CoW commit consumes standing delta chains (mode interop)") {
    val root = freshRoot()
    var tv = apply(root, empty,
      Seq((1L, Op.Update, Map("a" -> "base", "b" -> "1"), false),
        (2L, Op.Update, Map("a" -> "keep", "b" -> "2"), false)),
      1L, compactDeltas = 1)
    tv = apply(root, tv, Seq((1L, Op.Update, Map("b" -> "10"), false)),
      2L)
    assert(tv.deltaFiles.nonEmpty)
    // CoW rewrite of the affected bucket must fold the chain in, not
    // lose it or apply it twice
    tv = apply(root, tv, Seq((1L, Op.Update, Map("c" -> "cc"), false)),
      3L, compactDeltas = 1)
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
        commit, compactDeltas = 100)._1
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
      compactDeltas = 1)._1
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
