package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShims

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
    * Scale shape per round: one equi-join of the edge list against
    * the node-sized rank frame (AQE broadcasts the rank side while it
    * fits; both sides already hash-partition on the node key
    * otherwise) and one map-side-combined aggregation — rounds are
    * fixed and small, so lineage stays bounded without checkpointing.
    * Returns (node, pr_e9).
    */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    // symmetrize (undirected affinity: each endpoint both sends and
    // receives) and attach each source's out-weight ONCE — the cached
    // (s, t, w, wt) frame is the only thing the rounds re-read, so
    // the upstream edge-construction pipeline (shingles, rarity cap,
    // pair join) runs exactly one time however many rounds follow
    val sym = edges.select(col("s_a").as("s"), col("s_b").as("t"), col("w"))
      .unionByName(
        edges.select(col("s_b").as("s"), col("s_a").as("t"), col("w")))
    val e = sym.join(sym.groupBy("s").agg(sum(col("w")).as("wt")), "s")
    e.persist()
    val nodes = e.select(col("s")).distinct()
    val n = nodes.count() // also materializes the edge cache
    require(n > 0, "pageRank needs a non-empty edge list")
    val prInit = math.round(1e9 / n)
    val base = lit((1.0 - damping) / n * 1e9)
    // per-round shuffle width = the symmetrized edge rows (cheap
    // aggregation off the just-materialized cache) — gates the round
    // loop's low-latency regime (FixpointExec) and the driver route.
    // The same pass sums the raw id bytes (strings only) so the
    // driver-route gate is BYTE-aware at no extra job.
    val idIsString = e.schema("s").dataType ==
      org.apache.spark.sql.types.StringType
    val idByteAgg =
      if (idIsString) sum(octet_length(col("s")) + octet_length(col("t")))
      else sum(lit(16L))
    val szRow = e.agg(count(lit(1)), idByteAgg).head()
    val edgeRows = szRow.getLong(0)
    val idBytes = if (szRow.isNullAt(1)) 0L else szRow.getLong(1)

    // DRIVER ROUTE (the bradleyTerryAuto/connectedComponents
    // pattern): while the weighted edge list collects comfortably,
    // iterate on the driver. The trajectory is BIT-IDENTICAL to the
    // frame route: every transfer replays the same IEEE double chain
    // (pr·w/wt·1000, damping·c/1000) and the same HALF_UP decimal
    // rounding Spark's ROUND applies to doubles
    // (BigDecimal.valueOf(x).setScale(0, HALF_UP)), and the incoming
    // sum is an exact long sum — order-free on both routes. Gated by
    // BOTH spark.graft.pagerank.driverMaxEdges (rows, default 2M; 0
    // disables the route) AND spark.graft.pagerank.driverMaxBytes
    // (default 256m; 0 disables the byte check): estBytes prices the
    // collected 4-column GenericRow batch (~96 B Row/weight overhead
    // per edge + ~4× the raw id bytes for UTF-16 + String headers),
    // so long string ids can't ride a row-count-only gate onto a
    // small driver heap. A corpus-scale graph fails both and keeps
    // the distributed rounds.
    val driverMax =
      try spark.conf.get("spark.graft.pagerank.driverMaxEdges",
        "2000000").toLong
      catch { case _: NumberFormatException => 0L }
    val driverMaxBytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.graft.pagerank.driverMaxBytes", "256m"))
      catch { case _: NumberFormatException => 0L }
    val estBytes = edgeRows * 96L + 4L * idBytes
    if (driverMax > 0 && edgeRows <= driverMax &&
        (driverMaxBytes <= 0 || estBytes <= driverMaxBytes)) {
      val rows = e.select(col("s"), col("t"), col("w").cast("long"),
        col("wt").cast("long")).collect()
      e.unpersist()
      def roundHalfUp(x: Double): Long =
        java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
      val vals = new scala.collection.mutable.ArrayBuffer[Any]
      def of(v: Any): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue()
        else { idx.put(v, Integer.valueOf(vals.length)); vals += v
          vals.length - 1 }
      }
      val es = new Array[Int](rows.length)
      val et = new Array[Int](rows.length)
      val ew = new Array[Long](rows.length)
      val ewt = new Array[Long](rows.length)
      var i = 0
      rows.foreach { r =>
        es(i) = of(r.get(0)); et(i) = of(r.get(1))
        ew(i) = r.getLong(2); ewt(i) = r.getLong(3); i += 1
      }
      val nn = vals.length
      require(nn > 0, "pageRank needs a non-empty edge list")
      val baseD = (1.0 - damping) / nn * 1e9
      val prv = Array.fill(nn)(math.round(1e9 / nn))
      val contrib = new Array[Long](nn)
      for (_ <- 1 to iters) {
        java.util.Arrays.fill(contrib, 0L)
        var j = 0
        while (j < es.length) {
          contrib(et(j)) += roundHalfUp(
            prv(es(j)).toDouble * ew(j) / ewt(j) * 1000.0d)
          j += 1
        }
        var v = 0
        while (v < nn) {
          prv(v) = roundHalfUp(baseD + damping * contrib(v) / 1000.0d)
          v += 1
        }
      }
      val dt = e.schema("s").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", dt),
        org.apache.spark.sql.types.StructField("pr_e9",
          org.apache.spark.sql.types.LongType)))
      val outRows: Seq[org.apache.spark.sql.Row] = (0 until nn).map(v =>
        org.apache.spark.sql.Row(vals(v), prv(v)))
      return DriverRoute.frameOf(spark, outRows, schema)
    }

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
    * Scale shape: one node-sized degree aggregation, one join to
    * orient, one self-equi-join on the wedge apex, one semi-join to
    * close — all on the node/edge key, no all-pairs, nothing collected.
    * lcc_e6 = round(2e6·tri/(deg·(deg−1))) (0 when deg < 2) keeps the
    * coefficient engine-exact in integer micro-units.
    * Returns (node, deg, tri, lcc_e6).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // DRIVER ROUTE (the CC/PageRank pattern): the oriented wedge
    // enumeration is pure integer/comparator logic — no floats until
    // the final lcc rounding, which replays Spark's exact
    // multiply→divide→HALF_UP chain — so a small graph computes on
    // the driver in one collect instead of ~10 join/aggregate stages
    // of near-zero CPU (measured r18: the triangle stages of the
    // affinity queries were a 64-task ladder of scheduling overhead).
    // Gate: spark.graft.triangles.driverMaxEdges rows (default 2M; 0
    // disables) AND spark.graft.triangles.driverMaxBytes (default
    // 256m) over the same byte estimate the CC gate uses. Above the
    // gate the one sizing pass is wasted — accepted and documented:
    // the frame route evaluates the edge subtree several times
    // anyway, and a corpus-scale deployment that never wants the
    // probe sets driverMaxEdges=0.
    val driverMax =
      try spark.conf.get("spark.graft.triangles.driverMaxEdges",
        "2000000").toLong
      catch { case _: NumberFormatException => 0L }
    if (driverMax > 0) {
      val es = edges.select(col("s_a"), col("s_b")).persist()
      val idIsString = edges.schema("s_a").dataType ==
        org.apache.spark.sql.types.StringType
      val byteAgg =
        if (idIsString)
          sum(octet_length(col("s_a")) + octet_length(col("s_b")))
        else sum(lit(16L))
      val sz = es.agg(count(lit(1)), byteAgg).head()
      val eRows = sz.getLong(0)
      val idBytes = if (sz.isNullAt(1)) 0L else sz.getLong(1)
      val maxBytes =
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.graft.triangles.driverMaxBytes", "256m"))
        catch { case _: NumberFormatException => 0L }
      val estBytes = eRows * 64L + 4L * idBytes
      if (eRows <= driverMax && (maxBytes <= 0 || estBytes <= maxBytes)) {
        val rows = es.collect()
        es.unpersist()
        return triangleCountDriver(spark, rows,
          edges.schema("s_a").dataType)
      }
      es.unpersist()
    }
    triangleCountFrames(edges)
  }

  /** Driver replay of [[triangleCountFrames]]' relational algebra,
    * row for row — degree with multiplicity, (deg, node)-orientation
    * with Spark's UTF8 string order, value-inequality wedge pairs,
    * SET-semantics closing probe (the left-semi), and the identical
    * IEEE multiply→divide→HALF_UP lcc quantization. Equivalence is
    * pinned by the routes-agree test in GraphOpsSpec.
    */
  private def triangleCountDriver(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    def cmp(x: Any, y: Any): Int = (x, y) match {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a).compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b))
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    def roundHalfUp(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val deg = new java.util.HashMap[Any, Long]
    rows.foreach { r =>
      deg.merge(r.get(0), 1L, (a, b) => a + b)
      deg.merge(r.get(1), 1L, (a, b) => a + b)
    }
    // orient each edge row from its (deg, node)-smaller endpoint
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]
    val edSet = new java.util.HashSet[(Any, Any)](rows.length * 2)
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      val (da, db) = (deg.get(a), deg.get(b))
      val (u, v) =
        if (da < db || (da == db && cmp(a, b) < 0)) (a, b) else (b, a)
      adj.computeIfAbsent(u,
        _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += v
      edSet.add((u, v))
    }
    val tri = new java.util.HashMap[Any, Long]
    adj.forEach { (u, vs) =>
      var i = 0
      while (i < vs.length) {
        var j = 0
        while (j < vs.length) {
          // value inequality, like the frame's y =!= z filter; a
          // duplicated input edge duplicates the wedge exactly as the
          // self-join would
          if (i != j && vs(i) != vs(j) && edSet.contains((vs(i), vs(j)))) {
            tri.merge(u, 1L, (a, b) => a + b)
            tri.merge(vs(i), 1L, (a, b) => a + b)
            tri.merge(vs(j), 1L, (a, b) => a + b)
          }
          j += 1
        }
        i += 1
      }
    }
    val outRows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    deg.forEach { (node, d) =>
      val t = tri.getOrDefault(node, 0L)
      // replay round(lit(2e6) * tri / (deg * (deg - 1)), 0): multiply
      // first, long product cast to double in the divide, HALF_UP
      val lcc =
        if (d >= 2L) roundHalfUp(2e6 * t.toDouble / (d * (d - 1L)).toDouble)
        else 0L
      outRows += org.apache.spark.sql.Row(node, d, t, lcc)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt),
      org.apache.spark.sql.types.StructField("deg",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tri",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lcc_e6",
        org.apache.spark.sql.types.LongType)))
    DriverRoute.frameOf(spark, outRows.toSeq, schema)
  }

  /** The distributed frame formulation of [[triangleCount]] — the
    * route above the driver gate, and the equivalence reference.
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
