package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Graph analytics over corpus-derived relationship graphs. The
  * curation use case: rank SOURCES (hosts, crawls, feeds) by how
  * central they are in the content-sharing graph — a high-rank source
  * cross-posts with many other well-connected sources, the signature
  * of content farms and syndication rings that per-document dedup
  * sees only pair by pair.
  *
  * Everything here is engine-exact: PageRank state is held in integer
  * nano-units and every per-edge transfer is quantized BEFORE the
  * summation, so iteration results are independent of addition order
  * (the same convention as TextOps' micro-nat costs) and a DuckDB
  * twin can replay the trajectory with unrolled CTEs.
  */
object GraphOps {

  /** Weighted undirected source-affinity edges from shared RARE
    * w-shingles: two sources gain an edge of weight = the number of
    * distinct rare shingle hashes they both contain. Rarity is capped
    * at `srcCap` distinct sources per shingle — ubiquitous shingles
    * (stopword runs, boilerplate) carry no affinity signal and would
    * otherwise explode the pair join quadratically (the same guard as
    * the LSH band cap: each surviving shingle emits at most
    * srcCap·(srcCap−1)/2 pairs).
    *
    * Scale shape: one scan computing per-doc distinct shingle hashes,
    * a (hash, source) distinct aggregation, the df-cap filter on its
    * output (source-count-sized, not corpus-sized), a self-equi-join
    * on the hash, one pair aggregation. No all-pairs anywhere.
    * Returns (s_a, s_b, w) with s_a < s_b.
    */
  def sharedShingleEdges(df: DataFrame, source: Column, text: Column,
      w: Int, srcCap: Int): DataFrame = {
    val hs = df.select(source.as("__src"),
        explode(array_distinct(transform(
          wordShingles(tokens(text), w), sp => portableHash(sp)))).as("h"))
      .distinct()
    val keep = hs.groupBy("h")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(2, srcCap))
      .select("h")
    val f = hs.join(keep, "h")
    val a = f.select(col("h"), col("__src").as("s_a"))
    val b = f.select(col("h").as("h2"), col("__src").as("s_b"))
    a.join(b, a("h") === b("h2") && col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b")
      .agg(count(lit(1)).as("w"))
  }

  /** Weighted PageRank over an undirected edge list, exact across
    * engines: ranks live as integer e9 units, each edge transfer
    * pr·w/W(t) is quantized to integer e12 units before the incoming
    * sum (order-free), and the damped update re-quantizes to e9 —
    * `iters` fixed rounds, no convergence test, so a twin replays the
    * identical trajectory. Nodes are the edge endpoints (an isolated
    * source has no affinity evidence and is the caller's join-back).
    *
    * Two routes replay one trajectory bit for bit (pinned by
    * GraphOpsSpec): [[pageRankOnDriver]] when [[DriverRoute.admit]]
    * accepts the weighted edge list (work = its rows), else the
    * distributed rounds of [[pageRankByRounds]]. Returns (node, pr_e9).
    */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val (e, sz) = weightedEdges(edges)
    if (DriverRoute.admit(sz.heapBytes(96L), sz.rows))
      pageRankOnDriver(e, iters, damping)
    else pageRankByRounds(e, sz.rows, iters, damping)
  }

  /** The persisted symmetrized edge list (s, t, w, wt) — each source's
    * out-weight `wt` attached ONCE, and the only thing the rounds
    * re-read, so the upstream edge-construction pipeline (shingles,
    * rarity cap, pair join) runs one time however many rounds follow —
    * and its size, from the pass that materializes it.
    */
  private[graft] def weightedEdges(
      edges: DataFrame): (DataFrame, DriverRoute.Size) = {
    val sym = edges.select(col("s_a").as("s"), col("s_b").as("t"), col("w"))
      .unionByName(
        edges.select(col("s_b").as("s"), col("s_a").as("t"), col("w")))
    val e = sym.join(sym.groupBy("s").agg(sum(col("w")).as("wt")), "s")
    e.persist()
    (e, DriverRoute.size(e, Seq("s", "t")))
  }

  /** Driver route of [[pageRank]] over the persisted `e`: every
    * transfer replays the frame route's IEEE double chain
    * (pr·w/wt·1000, damping·c/1000) and Spark's HALF_UP `round(x, 0)`
    * ([[DriverRoute.roundHalfUp]]), and the incoming sum is an exact
    * long sum, order-free on both routes.
    */
  private[graft] def pageRankOnDriver(e: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val rows = e.select(col("s"), col("t"), col("w").cast("long"),
      col("wt").cast("long")).collect()
    e.unpersist()
    val ids = new DriverRoute.Interner(rows.length)
    val es = new Array[Int](rows.length)
    val et = new Array[Int](rows.length)
    rows.indices.foreach { i =>
      es(i) = ids(rows(i).get(0)); et(i) = ids(rows(i).get(1))
    }
    val ew = rows.map(_.getLong(2))
    val ewt = rows.map(_.getLong(3))
    val nn = ids.values.length
    require(nn > 0, "pageRank needs a non-empty edge list")
    val baseD = (1.0 - damping) / nn * 1e9
    val prv = Array.fill(nn)(math.round(1e9 / nn))
    val contrib = new Array[Long](nn)
    for (_ <- 1 to iters) {
      java.util.Arrays.fill(contrib, 0L)
      var j = 0
      while (j < es.length) {
        contrib(et(j)) += DriverRoute.roundHalfUp(
          prv(es(j)).toDouble * ew(j) / ewt(j) * 1000.0d)
        j += 1
      }
      var v = 0
      while (v < nn) {
        prv(v) = DriverRoute.roundHalfUp(baseD + damping * contrib(v) / 1000.0d)
        v += 1
      }
    }
    val schema = StructType(Seq(StructField("node", e.schema("s").dataType),
      StructField("pr_e9", LongType)))
    DriverRoute.frameOf(e.sparkSession,
      (0 until nn).map(v => Row(ids.values(v), prv(v))), schema)
  }

  /** Frame route of [[pageRank]] over the persisted `e` of `edgeRows`
    * rows. Per round: one equi-join of the edge list against the
    * node-sized rank frame (AQE broadcasts the rank side while it fits;
    * both sides already hash-partition on the node key otherwise) and
    * one map-side-combined aggregation, under the fixpoint regime
    * ([[FixpointExec]]).
    */
  private[graft] def pageRankByRounds(e: DataFrame, edgeRows: Long,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val spark = e.sparkSession
    val nodes = e.select(col("s")).distinct()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val prInit = math.round(1e9 / n)
    val base = lit((1.0 - damping) / n * 1e9)
    var pr = nodes.select(col("s"), lit(prInit).as("pr"))
    var cached: DataFrame = null
    FixpointExec.withTinyRounds(spark, edgeRows) {
    for (_ <- 1 to iters) {
      val contrib = e.join(pr, "s")
        .select(col("t"),
          round(col("pr").cast("double") * col("w") / col("wt") * lit(1000.0d), 0)
            .cast("long").as("c"))
        .groupBy("t").agg(sum(col("c")).as("c"))
      val next = nodes
        .join(contrib.withColumnRenamed("t", "s"), Seq("s"), "left")
        .select(col("s"),
          round(base + lit(damping) * coalesce(col("c"), lit(0L)) / lit(1000.0d), 0)
            .cast("long").as("pr"))
      // persist + LogicalRDD cut per round (the connectedComponents
      // pattern): without it round k's plan embeds k copies of the
      // whole iteration subtree
      next.persist().count()
      if (cached != null) cached.unpersist()
      cached = next
      pr = GraftShims.lineageLeaf(next)
    }
    }
    // hand back a frame that owns its data WITHOUT funneling it
    // through the driver: Materialize.cut eagerly materializes the
    // final ranks on the executors (node-domain-sized, partition
    // count preserved — a doc-level graph stays distributed), cuts
    // the lineage, and lets every cache this loop pinned — including
    // the last round's — release before return. On the default local
    // route the blocks free themselves when the returned frame is
    // collected (ContextCleaner), so nothing leaks per invocation.
    val out = Materialize.cut(
      pr.select(col("s").as("node"), col("pr").as("pr_e9")))
    if (cached != null) cached.unpersist()
    e.unpersist()
    out
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected edge list (s_a, s_b, w) with s_a < s_b — the
    * tight-knit-ring detector that PageRank's centrality misses: a
    * syndication clique is triangle-dense even when no member is
    * globally central.
    *
    * Enumeration uses DEGREE-ORDERED ORIENTATION: every edge is
    * directed from its (degree, node)-smaller endpoint to the larger,
    * wedges are built only at out-neighbors, and the closing edge is
    * probed in the same oriented list. Each triangle {x,y,z} (ordered
    * x<y<z by the orientation) is found exactly once, as the wedge at
    * x closed by the oriented edge y→z. The orientation is the whole
    * scale story: out-degree is bounded by O(√m) on any graph (the
    * arboricity bound), so the wedge join fans out to at most m^{3/2}
    * candidates TOTAL and a hub with a million neighbors receives
    * in-edges instead of generating a million-wide wedge set — the
    * skew lands on the build side of an equi-join, where AQE handles
    * it, not in the pair generator.
    *
    * Two routes agree row for row (pinned by GraphOpsSpec):
    * [[trianglesOnDriver]] when [[DriverRoute.admit]] accepts the
    * collected edges (work = oriented wedges), else
    * [[triangleCountFrames]] — one node-sized degree aggregation, one
    * join to orient, one self-equi-join on the wedge apex, one
    * semi-join to close, all on the node/edge key, no all-pairs.
    * lcc_e6 = round(2e6·tri/(deg·(deg−1))) (0 when deg < 2) keeps the
    * coefficient engine-exact in integer micro-units.
    * Returns (node, deg, tri, lcc_e6).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // the wedge count needs the orientation, which needs the degrees:
    // the route collects when the edge rows fit (~128 B each with the
    // adjacency and probe set), then admits on the wedges
    val es = edges.select(col("s_a"), col("s_b")).persist()
    val bytes = DriverRoute.size(es, Seq("s_a", "s_b")).heapBytes(128L)
    val g =
      if (DriverRoute.admit(bytes, 0L)) Some(new OrientedEdges(es.collect()))
      else None
    es.unpersist()
    g match {
      case Some(o) if DriverRoute.admit(bytes, o.wedges) =>
        trianglesOnDriver(edges.sparkSession, o, edges.schema("s_a").dataType)
      case _ => triangleCountFrames(edges)
    }
  }

  /** Collected (s_a, s_b) rows oriented as [[triangleCountFrames]]
    * orients them: each edge row points from its (deg, node)-smaller
    * endpoint, degrees counted with multiplicity, nodes in Spark's
    * order ([[DriverRoute.compareIds]]).
    */
  private[graft] final class OrientedEdges(rows: Array[Row]) {
    val deg = new java.util.HashMap[Any, Long]
    rows.foreach { r =>
      deg.merge(r.get(0), 1L, (a, b) => a + b)
      deg.merge(r.get(1), 1L, (a, b) => a + b)
    }
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]
    val edSet = new java.util.HashSet[(Any, Any)](rows.length * 2)
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      val (da, db) = (deg.get(a), deg.get(b))
      val (u, v) =
        if (da < db || (da == db && DriverRoute.compareIds(a, b) < 0)) (a, b)
        else (b, a)
      adj.computeIfAbsent(u,
        _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += v
      edSet.add((u, v))
    }
    /** The route's work: Σ outdeg·(outdeg−1), the ordered wedges the
      * enumeration probes (K_200 has 19,900 edges and 2.6M of them).
      */
    val wedges: Long = {
      var w = 0L
      adj.forEach((_, vs) => w += vs.length.toLong * (vs.length - 1))
      w
    }
  }

  /** Driver route of [[triangleCount]]: replays [[triangleCountFrames]]'
    * relational algebra row for row — value-inequality wedge pairs,
    * SET-semantics closing probe (the left-semi), and the identical
    * IEEE multiply→divide→HALF_UP lcc quantization.
    */
  private[graft] def trianglesOnDriver(spark: SparkSession,
      g: OrientedEdges, dt: DataType): DataFrame = {
    val tri = new java.util.HashMap[Any, Long]
    g.adj.forEach { (u, vs) =>
      var i = 0
      while (i < vs.length) {
        var j = 0
        while (j < vs.length) {
          // value inequality, like the frame's y =!= z filter; a
          // duplicated input edge duplicates the wedge exactly as the
          // self-join would
          if (i != j && vs(i) != vs(j) && g.edSet.contains((vs(i), vs(j)))) {
            tri.merge(u, 1L, (a, b) => a + b)
            tri.merge(vs(i), 1L, (a, b) => a + b)
            tri.merge(vs(j), 1L, (a, b) => a + b)
          }
          j += 1
        }
        i += 1
      }
    }
    val outRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    g.deg.forEach { (node, d) =>
      val t = tri.getOrDefault(node, 0L)
      // replay round(lit(2e6) * tri / (deg * (deg - 1)), 0): multiply
      // first, long product cast to double in the divide, HALF_UP
      val lcc =
        if (d >= 2L)
          DriverRoute.roundHalfUp(2e6 * t.toDouble / (d * (d - 1L)).toDouble)
        else 0L
      outRows += Row(node, d, t, lcc)
    }
    val schema = StructType(StructField("node", dt) +:
      Seq("deg", "tri", "lcc_e6").map(StructField(_, LongType)))
    DriverRoute.frameOf(spark, outRows.toSeq, schema)
  }

  /** The distributed frame formulation of [[triangleCount]] — the
    * route [[DriverRoute.admit]] refuses, and the equivalence
    * reference.
    */
  def triangleCountFrames(edges: DataFrame): DataFrame = {
    val und = edges.select(col("s_a").as("s"), col("s_b").as("t"))
      .unionByName(edges.select(col("s_b").as("s"), col("s_a").as("t")))
    val deg = und.groupBy("s").agg(count(lit(1)).as("deg"))
    // orient each input edge (a<b) from (deg, node)-smaller to larger
    val ed = edges
      .join(deg.select(col("s").as("s_a"), col("deg").as("da")), "s_a")
      .join(deg.select(col("s").as("s_b"), col("deg").as("db")), "s_b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("s_a") < col("s_b")),
          col("s_a")).otherwise(col("s_b")).as("u"),
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("s_a") < col("s_b")),
          col("s_b")).otherwise(col("s_a")).as("v"))
    val e1 = ed.select(col("u"), col("v").as("y"))
    val e2 = ed.select(col("u").as("u2"), col("v").as("z"))
    // wedge at the apex u, closed by the ORIENTED edge y→z: the
    // closing probe is directed, so of a wedge's two orderings
    // exactly one matches and each triangle counts once
    val tris = e1.join(e2, e1("u") === e2("u2") && col("y") =!= col("z"))
      .join(ed.select(col("u").as("cy"), col("v").as("cz")),
        col("y") === col("cy") && col("z") === col("cz"), "leftsemi")
      .select(col("u"), col("y"), col("z"))
    val perNode = tris
      .select(explode(array(col("u"), col("y"), col("z"))).as("s"))
      .groupBy("s").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("s"), "left")
      .select(col("s").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          round(lit(2e6) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1L))), 0).cast("long"))
          .otherwise(lit(0L)).as("lcc_e6"))
  }

  /** The consumable syndication verdict: the three per-source signals
    * the curation pipeline already computes separately — near-dup
    * pollution (`perSource`: source, n_docs, n_dups), affinity
    * centrality (`pr`: node, pr_e9), and ring tightness (`tri`:
    * node, deg, tri, lcc_e6) — joined into ONE ranked suspect table.
    * A syndication ring reads as (above-uniform PageRank ∧ high
    * clustering): central AND tight-knit; per-doc dedup sees the
    * same ring only pair by pair.
    *
    * Engine-exact flag and score, no floats: `suspect` ⇔
    * pr_e9·|V| > 1e9 (rank above the uniform 1/|V| share) AND
    * 2·lcc_e6 ≥ 1e6 (clustering ≥ ½); `score` = pr_e9·lcc_e6
    * (≤ 1e15, no overflow); `rk` = row_number by (score desc,
    * source) — fully deterministic. Sources outside the affinity
    * graph keep their dedup stats with zeroed graph columns: absent
    * from the graph is itself a verdict, not a dropped row.
    *
    * Scale shape: all three inputs are SOURCE-axis frames (bounded by
    * #sources, not corpus size), so the joins and the single global
    * rank window are O(#sources) — the corpus-sized work already
    * happened inside the three inputs.
    */
  def syndicationSuspects(perSource: DataFrame, pr: DataFrame,
      tri: DataFrame): DataFrame = {
    val nNodes = pr.count()
    val joined = perSource
      .join(pr.select(col("node").as("source"), col("pr_e9")),
        Seq("source"), "left")
      .join(tri.select(col("node").as("source"), col("deg"), col("tri"),
        col("lcc_e6")), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_dups"),
        coalesce(col("pr_e9"), lit(0L)).as("pr_e9"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        coalesce(col("lcc_e6"), lit(0L)).as("lcc_e6"))
      .withColumn("score", col("pr_e9") * col("lcc_e6"))
      .withColumn("suspect",
        col("pr_e9") * lit(nNodes) > lit(1000000000L) &&
          col("lcc_e6") * lit(2L) >= lit(1000000L))
    joined.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("source"))))
  }

  /** [[syndicationSuspects]] with the edge frame computed ONCE: both
    * graph consumers (PageRank's internal materialization and the
    * triangle count) read a persisted `edges`, the triangle result is
    * materialized into a frame that owns its data (O(#sources), like
    * pageRank's own return), and the cache is released before return
    * — the shingle-explode pipeline that feeds the edge list runs one
    * time instead of once per consumer, and nothing stays pinned.
    */
  def syndicationSuspectsFromEdges(perSource: DataFrame,
      edges: DataFrame, prIters: Int): DataFrame = {
    val spark = edges.sparkSession
    edges.persist()
    try {
      val pr = pageRank(edges, prIters) // materializes the edge cache
      val tri0 = triangleCount(edges)
      val triRows = tri0.collect().toIndexedSeq
      // LocalRelation when small (DriverRoute): the suspect-assembly
      // join against it then auto-broadcasts off real statistics
      val tri = DriverRoute.frameOf(spark, triRows, tri0.schema)
      syndicationSuspects(perSource, pr, tri)
    } finally { edges.unpersist(); () }
  }
}
