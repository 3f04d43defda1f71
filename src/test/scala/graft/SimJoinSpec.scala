package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-join machinery.
  *
  * The load-bearing claim is that prefix filtering is LOSSLESS: the
  * banded/pruned candidate generation followed by exact verification
  * must equal the brute-force all-pairs join at the same threshold.
  * Randomized sets over a small vocabulary force heavy overlap, so a
  * one-token-short prefix would be caught immediately.
  */
class SimJoinSpec extends SparkSpec {
  import spark.implicits._

  private def bruteVsPrefix(tNum: Int, tDen: Int, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    var prev: Seq[Long] = Seq(0L, 1L, 2L)
    val docs = (0 until 60).map { i =>
      val block = if (i % 2 == 0) "x" else "y"
      val n = 3 + rnd.nextInt(12)
      // small vocabulary => many overlapping sets; docs at i%5==4 are
      // near-copies of the doc at i%5==2 (same block parity), so the
      // fixture keeps nonzero pairs even at high thresholds
      val toks =
        if (i % 5 == 4) (prev :+ rnd.nextInt(30).toLong).distinct.sorted
        else Seq.fill(n)(rnd.nextInt(30).toLong).distinct.sorted
      if (i % 5 == 2) prev = toks
      (i.toLong, block, toks)
    }
    val g = docs.toDF("doc_id", "blk", "s")
    val t = tNum.toDouble / tDen

    val a = g.select(col("blk"), col("doc_id").as("id_a"), col("s").as("s_a"))
    val b = g.select(col("blk"), col("doc_id").as("id_b"), col("s").as("s_b"))
    val brute = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("jac", Dedup.jaccardSorted(col("s_a"), col("s_b")))
      .filter(col("jac") >= t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val cands = Dedup.prefixFilterCandidates(g, "doc_id", "s", Seq("blk"), tNum, tDen)
    val pruned = cands
      .join(g.select(col("doc_id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(g.select(col("doc_id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("jac", Dedup.jaccardSorted(col("s_a"), col("s_b")))
      .filter(col("jac") >= t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(pruned == brute,
      s"t=$tNum/$tDen seed=$seed missing=${brute -- pruned} extra=${pruned -- brute}")
    assert(brute.nonEmpty, s"degenerate fixture at t=$tNum/$tDen seed=$seed")
  }

  test("prefix filtering is lossless vs brute force across thresholds") {
    bruteVsPrefix(3, 10, seed = 1)
    bruteVsPrefix(1, 2, seed = 2)
    bruteVsPrefix(8, 10, seed = 3)
  }

  test("LSH near-dup pairs are a subset of brute-force pairs, all verified") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 80).map { i =>
      val base = Array.fill(8)(rnd.nextInt(2000).toLong - 1000L)
      // half the rows are jittered copies => guaranteed near-dups
      val v = if (i % 2 == 1) base.map(x => x + rnd.nextInt(20) - 10) else base
      (i.toLong, s"lb${i % 3}", v.toSeq)
    }
    val df = vecs.toDF("id", "label", "vec")
    val brute = Similarity.nearDupPairs(df, "label", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.nearDupPairsLsh(df, "label", 0.8,
      planes = 16, dims = 8, bands = 8)
    val rows = banded.collect()
    val bandedPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bandedPairs.subsetOf(brute))
    assert(rows.forall(_.getDouble(2) >= 0.8))
    assert(bandedPairs.nonEmpty)
    // determinism: a second run produces the identical pair set
    val again = Similarity.nearDupPairsLsh(df, "label", 0.8,
      planes = 16, dims = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == bandedPairs)
  }

  test("span-overlap pairs equal the driver-side brute force, counts included") {
    import graft.functions.GraftFunctions.tokens
    val rnd = new scala.util.Random(5)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    var prev = "aa bb cc dd ee"
    val docs = (0 until 50).map { i =>
      // every 5th doc lifts a 5-token span from an earlier doc, so
      // multi-span pairs exist alongside organic single-span collisions
      val salad = Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      val text = if (i % 5 == 4) s"$salad $prev" else salad
      if (i % 5 == 2) prev = text.split(" ").take(5).mkString(" ")
      (i.toLong, text)
    }
    val df = docs.toDF("doc_id", "text")
    val sets = df.select(col("doc_id"),
      Dedup.shingleHashes(tokens(col("text")), 3).as("hs"))
    val (dfCap, minShared) = (20, 2)
    val got = Dedup.spanOverlapPairs(sets, "doc_id", "hs", dfCap, minShared)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side brute force over the same hash sets
    val local = sets.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val freq = local.values.flatten.groupBy(identity).view.mapValues(_.size)
    val rare = freq.filter(_._2 <= dfCap).keys.toSet
    val expected = (for {
      a <- local.keys; b <- local.keys if a < b
      n = (local(a) & local(b) & rare).size if n >= minShared
    } yield (a, b, n.toLong)).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty && expected.exists(_._3 >= 3),
      "degenerate fixture: need multi-span pairs")
  }

  test("IVF multi-probe: nprobe cells per query, recall never below nprobe=1") {
    val rnd = new scala.util.Random(7)
    // 4 well-separated clusters + per-cluster jitter, labels used only
    // as the centroid seed assignment
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextInt(4000).toLong - 2000L))
    val vecs = (0 until 120).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(x => x + rnd.nextInt(600) - 300).toSeq, c)
    }
    val df = vecs.toDF("id", "vec", "cell")
    val cents = Similarity.ivfCentroids(df, "cell").persist()
    val assigned = Similarity.ivfAssign(df, cents)
    val queries = df.filter(col("id") < 6).select("id", "vec")

    val probed2 = Similarity.ivfProbe(queries, cents, 2)
    val perQuery = probed2.groupBy("id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 2), "each query must probe 2 cells")

    def hits(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.knnBrute(queries, df.select("id", "vec"), 5))
    val n1 = hits(Similarity.knnIvf(assigned.filter(col("id") < 6), assigned, 5))
    val n2 = hits(Similarity.knnIvf(probed2, assigned, 5))
    val recall1 = (n1 & brute).size.toDouble / brute.size
    val recall2 = (n2 & brute).size.toDouble / brute.size
    assert(recall2 >= recall1, s"nprobe=2 recall $recall2 < nprobe=1 $recall1")
    assert(n2.nonEmpty && brute.nonEmpty)
    cents.unpersist()
  }

  test("MMR picks relevance first, then diversity beats redundancy") {
    // query 100 along dim 0. Candidates: 1, 2 near-duplicates highly
    // aligned with q; 3 less relevant but orthogonal-ish. Plain top-2
    // is {1, 2}; MMR at lam=1/2 must pick 1 (pure relevance), then 3
    // (2's redundancy penalty ~1.0 sinks it), then 2.
    val rows = Seq(
      (100L, Seq(1000L, 0L, 0L, 0L)),
      (1L, Seq(999L, 40L, 0L, 0L)),
      (2L, Seq(998L, 60L, 0L, 0L)),
      (3L, Seq(500L, 0L, 866L, 0L))).toDF("id", "vec")
    val q = rows.filter(col("id") === 100L)
    val got = Similarity.mmrDiverseTopK(q, rows, shortlist = 3, k = 3)
      .orderBy("pick_rank")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(1L, 3L, 2L),
      s"pick order was ${got.toSeq}")
    assert(got.map(_._2).toSeq === Seq(1, 2, 3))
    // pick 1 is pure relevance: score_e6 = 1 * sim_e6 (maxsel = 0)
    val sim1 = rows.filter(col("id") === 1L).crossJoin(q.select(
        col("vec").as("qv")))
      .select(org.apache.spark.sql.functions.round(
        Similarity.cosineI(col("vec"), col("qv")) * 1000000d, 0)
        .cast("long")).head().getLong(0)
    assert(got(0)._3 === sim1)
    // later picks carry a strictly positive redundancy penalty
    assert(got(2)._3 < got(0)._3)
  }

  test("MMR: driver and frame routes replay one greedy walk") {
    // random quantized vectors, several queries: the driver route
    // must match the k-round frame loop pick for pick — the scores are
    // exact integers on both routes, so equality is bitwise
    val rnd = new scala.util.Random(13)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextInt(2000).toLong - 1000L)))
      .toDF("id", "vec")
    val q = rows.filter(col("id") < 5)
    def picks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Long)] =
      df.orderBy("q_id", "pick_rank")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val (short, pair) = Similarity.mmrShortlist(q, rows, shortlist = 8)
    val viaDriver = picks(Similarity.mmrOnDriver(short, pair, k = 4,
      lamNum = 1, lamDen = 2).get)
    val viaRounds = picks(Similarity.mmrByRounds(short, pair, k = 4,
      lamNum = 1, lamDen = 2))
    assert(viaDriver === viaRounds)
    assert(viaDriver.size === 5 * 4)
    assert(picks(Similarity.mmrDiverseTopK(q, rows, shortlist = 8, k = 4,
      lamNum = 1, lamDen = 2)) === viaDriver)
  }

  test("SQ8: bounds map to 0/255, constant dims to 0, knn exact on fixture") {
    // dim 0 spans 10..30, dim 1 constant, dim 2 spans 0..100
    val vecs = Seq(
      (0L, Seq(10L, 7L, 0L)),
      (1L, Seq(30L, 7L, 100L)),
      (2L, Seq(20L, 7L, 50L)),
      (3L, Seq(10L, 7L, 100L))).toDF("id", "vec")
    val codes = Similarity.sq8Encode(vecs, col("id"), col("vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(0L) == Seq(0L, 0L, 0L))
    assert(codes(1L) == Seq(255L, 0L, 255L))
    assert(codes(2L) == Seq(128L, 0L, 128L)) // round(.5*255) = 128
    assert(codes(3L) == Seq(0L, 0L, 255L))
    // knn from q=0: id 2 at 2*128^2=32768, id 3 at 255^2=65025,
    // id 1 at 2*255^2=130050
    val knn = Similarity.sq8Knn(
        Similarity.sq8Encode(vecs, col("id"), col("vec")),
        col("id") === 0L, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(knn.toSeq == Seq(
      (2L, 1L, 2L * 128L * 128L),
      (3L, 2L, 255L * 255L),
      (1L, 3L, 2L * 255L * 255L)))
  }

  test("RP weights stay in [-10,10] and the projection is the exact dot") {
    val dims = 8
    for (r <- 0 until 16; i <- 0 until dims) {
      val w = Similarity.rpWeight(r, i, dims)
      assert(w >= -10L && w <= 10L, s"rpWeight($r,$i)=$w out of range")
    }
    val vec = Seq.tabulate(dims)(i => (i * 37 % 11 - 5).toLong)
    val got = Seq((0L, vec)).toDF("id", "vec")
      .select(Similarity.rpProject(col("vec"), 4, dims).as("p"))
      .collect()(0).getSeq[Long](0)
    val want = (0 until 4).map { r =>
      (0 until dims).map(i => vec(i) * Similarity.rpWeight(r, i, dims)).sum
    }
    assert(got == want)
  }

  test("RP knn with a corpus-wide shortlist degrades to exact brute force") {
    val rnd = new scala.util.Random(7)
    val dims = 16
    val vecs = (0L until 40L).map { id =>
      (id, Seq.fill(dims)((rnd.nextInt(2001) - 1000).toLong))
    }.toDF("id", "vec")
    val queries = vecs.filter(col("id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "c_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val brute = Similarity.knnBrute(queries, vecs, k = 5)
      .withColumn("rank", col("rank").cast("long"))
    // shortlist >= corpus size => stage 2 re-ranks everything: the
    // two-stage result must equal brute force EXACTLY
    val rp = Similarity.knnRp(queries, vecs, k = 5,
      shortlist = 40, rdim = 4, dims = dims)
    assert(rows(rp).sortBy(t => (t._1, t._3))
      == rows(brute).sortBy(t => (t._1, t._3)))
  }

  test("RP knn with a narrow shortlist keeps most of the brute top-k") {
    val rnd = new scala.util.Random(11)
    val dims = 16
    // clustered fixture: 4 centers, points jitter around them, so the
    // projected space preserves neighborhoods
    val centers = Seq.fill(4)(Seq.fill(dims)((rnd.nextInt(2001) - 1000).toLong))
    val vecs = (0L until 80L).map { id =>
      val c = centers((id % 4).toInt)
      (id, c.map(v => v + rnd.nextInt(101) - 50))
    }.toDF("id", "vec")
    val queries = vecs.filter(col("id") < 4)
    val brute = Similarity.knnBrute(queries, vecs, k = 5)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rp = Similarity.knnRp(queries, vecs, k = 5,
        shortlist = 20, rdim = 8, dims = dims)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & rp).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall below 0.8 on clustered fixture")
  }
}
