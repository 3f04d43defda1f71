package graft

import graft.ops.{DriverRoute, GraphOps}
import org.apache.spark.sql.functions._

/** GraphOps: source-affinity edge construction (distinct-per-source
  * semantics, the rarity cap) and the quantized PageRank trajectory
  * against hand-computed closed forms.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(docs: Seq[(String, String)], cap: Int) =
    GraphOps.sharedShingleEdges(docs.toDF("source", "text"),
        col("source"), col("text"), w = 3, srcCap = cap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet

  private val docs = Seq(
    "s1" -> "x y z p q r s",
    "s2" -> "x y z p q r t",
    "s3" -> "x y z m",
    // second s1 doc repeating a shared shingle: per-source DISTINCT
    // means it must not inflate any weight
    "s1" -> "y z p only here")

  test("sharedShingleEdges: rarity cap drops the 3-source shingle") {
    // shared by s1,s2: "x y z"(3 sources), "y z p"(2), "z p q"(2),
    // "p q r"(2) -> with cap 2 only the three 2-source shingles count
    assert(edgesOf(docs, cap = 2) == Set(("s1", "s2", 3L)))
  }

  test("sharedShingleEdges: raising the cap admits the hub shingle") {
    assert(edgesOf(docs, cap = 3) == Set(
      ("s1", "s2", 4L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("pageRank: symmetric two-node graph is stationary at 1/2") {
    val e = Seq(("a", "b", 5L)).toDF("s_a", "s_b", "w")
    val got = GraphOps.pageRank(e, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 500000000L, "b" -> 500000000L))
  }

  test("pageRank: star graph concentrates rank on the hub, exactly") {
    // hub c + 3 unit leaves, one round from uniform 2.5e8:
    //   pr(c) = round(0.15/4*1e9 + 0.85 * (3 * 2.5e11) / 1e3) = 675e6
    //   pr(l) = round(3.75e7 + 0.85 * round(2.5e8/3*1e3)/1e3)
    //         = round(3.75e7 + 70833333.33305) = 108333333
    val e = Seq(("c", "l1", 1L), ("c", "l2", 1L), ("c", "l3", 1L))
      .toDF("s_a", "s_b", "w")
    val got = GraphOps.pageRank(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("c") == 675000000L)
    assert(Seq("l1", "l2", "l3").forall(got(_) == 108333333L))
    // mass is conserved up to the per-node rounding
    assert(math.abs(got.values.sum - 1000000000L) <= 4)
  }

  test("pageRank: asymmetric weights order the ranks") {
    // a and b share the heavy edge (and are graph-symmetric, so they
    // tie exactly); c hangs off light edges and must rank below
    val e = Seq(("a", "b", 9L), ("b", "c", 1L), ("a", "c", 1L))
      .toDF("s_a", "s_b", "w")
    val got = GraphOps.pageRank(e, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") == got("b") && got("a") > got("c"))
  }

  private def trisOf(edges: Seq[(String, String)]) =
    GraphOps.triangleCount(
        edges.map { case (a, b) => (a, b, 1L) }.toDF("s_a", "s_b", "w"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("pageRank: driver and distributed routes replay one trajectory") {
    val rnd = new scala.util.Random(11)
    val e = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b),
        rnd.nextInt(9).toLong + 1L) }
      .distinct.toDF("s_a", "s_b", "w")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.get(0), r.getLong(1))).toSeq
    val viaDriver = ranks(GraphOps.pageRankOnDriver(
      GraphOps.weightedEdges(e)._1, iters = 4, damping = 0.85))
    val (we, sz) = GraphOps.weightedEdges(e)
    val viaRounds = ranks(GraphOps.pageRankByRounds(we, sz.rows, iters = 4))
    assert(viaDriver === viaRounds)
    assert(ranks(GraphOps.pageRank(e, iters = 4)) === viaDriver)
  }

  test("triangleCount: driver and frame routes agree on random graphs") {
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      val e = Seq.fill(180)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b), 1L) }
        .distinct.toDF("s_a", "s_b", "w")
      def tris(df: org.apache.spark.sql.DataFrame) = df.orderBy("node")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val viaDriver = tris(GraphOps.trianglesOnDriver(spark,
        new GraphOps.OrientedEdges(e.select("s_a", "s_b").collect()),
        org.apache.spark.sql.types.LongType))
      val viaFrames = tris(GraphOps.triangleCountFrames(e))
      assert(viaDriver === viaFrames, s"seed $seed")
      assert(tris(GraphOps.triangleCount(e)) === viaDriver, s"seed $seed")
    }
  }

  test("triangleCount: a clique over the wedge bound takes the frame route") {
    // K_200: 19,900 edges, far under the work ceiling, but 2,626,800
    // oriented wedges, over it — the driver's work is the wedges
    val n = 200L
    val e = (for (a <- 0L until n; b <- a + 1 until n) yield (a, b, 1L))
      .toDF("s_a", "s_b", "w")
    val g = new GraphOps.OrientedEdges(e.select("s_a", "s_b").collect())
    assert(g.wedges === (0L until n).map(d => d * (d - 1)).sum)
    assert(e.count() <= DriverRoute.MaxWork && g.wedges > DriverRoute.MaxWork)
    val got = GraphOps.triangleCount(e)
    // the driver route returns a LocalRelation; the frame route plans
    // joins over the input
    assert(!got.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toSeq).toSeq
    val viaFrames = rows(GraphOps.triangleCountFrames(e))
    assert(rows(got) === viaFrames)
    // every node closes C(199, 2) triangles at lcc 1
    assert(viaFrames.forall(r => r(2) == 199L * 198 / 2 && r(3) == 1000000L))
  }

  test("triangleCount: K3 is one triangle, lcc exactly 1") {
    val got = trisOf(Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got == Map(
      "a" -> ((2L, 1L, 1000000L)),
      "b" -> ((2L, 1L, 1000000L)),
      "c" -> ((2L, 1L, 1000000L))))
  }

  test("triangleCount: a path has no triangles") {
    val got = trisOf(Seq(("a", "b"), ("b", "c")))
    assert(got == Map(
      "a" -> ((1L, 0L, 0L)),
      "b" -> ((2L, 0L, 0L)),
      "c" -> ((1L, 0L, 0L))))
  }

  test("triangleCount: K4 counts each of the 4 triangles once") {
    val got = trisOf(Seq(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")))
    // every node sits in C(3,2) = 3 of the 4 triangles, lcc = 1
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got.values.forall(_ == ((3L, 3L, 1000000L))))
  }

  test("triangleCount: hub skew lands on deg, not on wedge fan-out") {
    // star hub h(a,b,c,d) + closing edge a-b: one triangle {h,a,b};
    // lcc(h) = round(2e6·1/(4·3)) = 166667, leaves c,d untouched
    val got = trisOf(Seq(("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"),
      ("a", "b")))
    assert(got("h") == ((4L, 1L, 166667L)))
    assert(got("a") == ((2L, 1L, 1000000L)))
    assert(got("b") == ((2L, 1L, 1000000L)))
    assert(got("c") == ((1L, 0L, 0L)))
    assert(got("d") == ((1L, 0L, 0L)))
  }

  test("syndicationSuspects: flag semantics, zero-fill, stable rank") {
    import spark.implicits._
    // 4-node graph: ring {a,b,c} (triangle) + pendant d; source x has
    // dedup stats but NO graph presence — zero-filled, never dropped
    val perSource = Seq(("a", 10L, 5L), ("b", 10L, 4L), ("c", 10L, 3L),
      ("d", 10L, 0L), ("x", 7L, 0L)).toDF("source", "n_docs", "n_dups")
    val pr = Seq(("a", 300000000L), ("b", 300000000L),
      ("c", 260000000L), ("d", 140000000L)).toDF("node", "pr_e9")
    val tri = Seq(("a", 2L, 1L, 1000000L), ("b", 2L, 1L, 1000000L),
      ("c", 3L, 1L, 333333L), ("d", 1L, 0L, 0L))
      .toDF("node", "deg", "tri", "lcc_e6")
    val got = GraphOps.syndicationSuspects(perSource, pr, tri)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("pr_e9"), r.getAs[Long]("lcc_e6"),
          r.getAs[Long]("score"), r.getAs[Boolean]("suspect"),
          r.getAs[Int]("rk")))).toMap
    // suspect ⇔ pr·|V| > 1e9 AND 2·lcc ≥ 1e6; |V| = 4
    assert(got("a") == ((300000000L, 1000000L, 300000000000000L, true, 1)))
    // b ties a on score — source tiebreak makes the rank stable
    assert(got("b")._5 == 2 && got("b")._4)
    // c: central (260e6·4 > 1e9) but clustering below ½ — not suspect
    assert(got("c") == ((260000000L, 333333L, 86666580000000L, false, 3)))
    // d: below uniform share AND no clustering
    assert(!got("d")._4)
    // x: absent from the graph — zero columns, rank after all scored
    assert(got("x") == ((0L, 0L, 0L, false, 5)))
  }
}
