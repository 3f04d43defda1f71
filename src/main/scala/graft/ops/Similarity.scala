package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column.
  *
  * Determinism note: embeddings are float32; both the brute-force and
  * LSH paths first QUANTIZE to integers (round(x*1000)) so dot
  * products and norms are exact integer sums — bitwise identical on
  * any engine and under any aggregation order. The float path
  * (cosineF) is for production use where cross-engine equality doesn't
  * matter.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against the full collection — one pass, no shuffle of the corpus;
  * the hyperplane-LSH path buckets the corpus by sign pattern so
  * candidate generation is a shuffle on bucket ids (IVF-style
  * coarse quantization would swap the hash for k-means centroids).
  */
object Similarity {

  /** Integer-quantized copy of a float-array column. */
  def quantize(emb: Column, scale: Int = 1000): Column =
    transform(emb, x => round(x.cast("double") * scale, 0).cast("long"))

  /** Exact integer dot product — native codegen'd expression;
    * [[dotIHof]] is the built-in higher-order-function form (kept for
    * equivalence testing).
    */
  def dotI(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.dotLongNative(a, b)

  def dotIHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine over quantized vectors: integer dots, one sqrt+div at the
    * end — deterministic across engines.
    */
  def cosineI(a: Column, b: Column): Column =
    dotI(a, b).cast("double") /
      nullif(sqrt(dotI(a, a).cast("double")) * sqrt(dotI(b, b).cast("double")),
        lit(0.0d))

  /** Brute-force top-k: broadcast the query set, score every corpus
    * row, rank per query. `queries`/`corpus`: (id, vec) with vec
    * already quantized.
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("vec").as("q_vec"))
    val c = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * k most-similar candidates whose label DIFFERS — the negatives a
    * triplet/InfoNCE loss learns most from (random negatives are
    * trivially far at scale; the hard ones sit just across the class
    * boundary). Same scale shape as [[knnBrute]] (the anchor set
    * broadcasts, the corpus is scanned once, per-anchor rank is
    * partition-local); the label filter runs BEFORE the window so
    * same-label rows never enter the rank. `anchors`/`corpus`:
    * (id, vec, label) with vec quantized. Returns
    * (q_id, q_label, c_id, c_label, rank, sim).
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val q = anchors.select(col("id").as("q_id"), col("vec").as("q_vec"),
      col("label").as("q_label"))
    val c = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"),
      col("label").as("c_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("c_id"), col("c_label"),
        col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Maximal Marginal Relevance: a diverse top-k over a relevance
    * shortlist. Greedy, per query: pick argmax of
    * `lam·sim(q,c) − (1−lam)·max_{s∈selected} sim(c,s)` (ties on
    * candidate id), k rounds — the standard redundancy-penalized
    * re-rank for retrieval-augmented sampling, where plain top-k
    * returns k near-copies of the same document.
    *
    * Scale shape: the data-sized work is the shortlist build
    * ([[knnBrute]] here; any ANN probe producing (q_id, c_id, sim_q)
    * works). Everything after is shortlist-sized: the candidate-pair
    * sims are |shortlist|² PER QUERY (corpus never re-enters), and
    * each greedy round is one window argmax + one join, all partition
    * -parallel across queries — millions of queries MMR-select
    * concurrently with no driver-side per-query loop. Plans are cut
    * per round (the kmeans/CC pattern), so the k-round loop cannot
    * compound lineage.
    *
    * Determinism: similarities are quantized to MICRO-UNITS —
    * `sim_e6 = round(cos·10⁶)` as BIGINT — and λ is the rational
    * lamNum/lamDen, so every score is exact integer arithmetic:
    * `score_e6 = lamNum·sim_e6 − (lamDen−lamNum)·maxsel_e6` (the MMR
    * score scaled by lamDen·10⁶). Both engines replay the greedy
    * walk bit-for-bit — no float rounding anywhere in the loop (a
    * float-score variant died on cross-engine `round(x, 6)`
    * disagreement at a half-ulp boundary; integers cannot). Returns
    * (q_id, c_id, pick_rank, score_e6), persisted (callers may
    * unpersist after consuming).
    *
    * Two routes replay one greedy walk pick for pick (pinned by
    * SimJoinSpec): [[mmrOnDriver]] when the shortlist holds no null
    * sim and [[DriverRoute.admit]] accepts the collect (work = the
    * pair-sim rows, at most shortlist rows × `shortlist`), else the
    * k-round frame loop of [[mmrByRounds]].
    */
  def mmrDiverseTopK(queries: DataFrame, corpus: DataFrame,
      shortlist: Int, k: Int, lamNum: Int = 1, lamDen: Int = 2): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1")
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"lam = $lamNum/$lamDen must be in [0,1]")
    val (short, pair) = mmrShortlist(queries, corpus, shortlist)
    short.persist()
    try {
      // a null sim (zero-norm vector) would need Spark's
      // nulls-last-desc ordering replayed; such a shortlist keeps the
      // frame route instead of modeling it — absent from any real
      // corpus
      val sz = DriverRoute.size(short, Seq("q_id", "c_id"),
        count(when(col("sim_e6").isNull, 1)))
      // a pair row carries one id more than a shortlist row
      val bytes = sz.heapBytes(128L) * (1L + shortlist)
      val viaDriver =
        if (sz.extra.getLong(0) == 0L &&
            DriverRoute.admit(bytes, sz.rows * shortlist))
          mmrOnDriver(short, pair, k, lamNum, lamDen)
        else None
      viaDriver.getOrElse(mmrByRounds(short, pair, k, lamNum, lamDen))
    } finally { short.unpersist(); () }
  }

  /** The MMR inputs: the per-query shortlist (q_id, c_id, sim_e6) and
    * the candidate-pair sims (q_id, c_id, cb2, sim_cc) over it, both
    * in micro-units straight off the RAW cosine — rounding the
    * already-6-decimal-rounded [[knnBrute]] output again would
    * reintroduce a cross-engine double-rounding hazard.
    */
  private[graft] def mmrShortlist(queries: DataFrame, corpus: DataFrame,
      shortlist: Int): (DataFrame, DataFrame) = {
    def e6(c: Column): Column = round(c * 1000000d, 0).cast("long")
    val qs = queries.select(col("id").as("q_id"), col("vec").as("q_vec"))
    val cs = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"))
    val ws = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    val short = cs.crossJoin(broadcast(qs))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(ws))
      .filter(col("rnk") <= shortlist)
      .select(col("q_id"), col("c_id"), e6(col("sim")).as("sim_e6"))
    val cv = short.join(
      corpus.select(col("id").as("c_id"), col("vec")), "c_id")
    val pair = cv.select(col("q_id"), col("c_id"), col("vec").as("va"))
      .join(cv.select(col("q_id"), col("c_id").as("cb2"),
        col("vec").as("vb")), Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("cb2"),
        e6(cosineI(col("va"), col("vb"))).as("sim_cc"))
    (short, pair)
  }

  /** Driver route of [[mmrDiverseTopK]]: every quantity the k greedy
    * rounds touch is already an exact integer (sim_e6 and sim_cc are
    * materialized longs, the score is long arithmetic), so replaying
    * the argmax walk on the collected shortlist and pair sims is
    * bit-identical by construction, and removes the 2 jobs per round
    * of window + join scheduling that dominate a small shortlist.
    * None when a pair sim is null, which the frame route handles.
    */
  private[graft] def mmrOnDriver(short: DataFrame, pair: DataFrame, k: Int,
      lamNum: Int, lamDen: Int): Option[DataFrame] = {
    val shortRows = short.collect()
    val pairRows = pair.collect()
    if (pairRows.exists(_.isNullAt(3))) return None
    val byQ = shortRows.groupBy(_.get(0))
    val cc = new java.util.HashMap[(Any, Any, Any), java.lang.Long](
      pairRows.length * 2)
    pairRows.foreach(r => cc.put((r.get(0), r.get(1), r.get(2)),
      java.lang.Long.valueOf(r.getLong(3))))
    val lamA = lamNum.toLong
    val lamB = (lamDen - lamNum).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    byQ.foreach { case (q, rows) =>
      // (c_id, sim_e6, maxsel)
      var state = rows.map(r => (r.get(1), r.getLong(2), 0L)).toSeq
      var i = 1
      while (i <= k && state.nonEmpty) {
        // argmax by (score desc, c_id asc) — the window's order
        var best = state.head
        var bestScore = lamA * best._2 - lamB * best._3
        state.tail.foreach { e =>
          val s = lamA * e._2 - lamB * e._3
          if (s > bestScore ||
              (s == bestScore && DriverRoute.compareIds(e._1, best._1) < 0)) {
            best = e; bestScore = s
          }
        }
        out += Row(q, best._1, i, bestScore)
        val picked = best._1
        state = state.flatMap { e =>
          if (e._1 == picked) None
          else {
            // inner-join semantics: an entry with no pair row is
            // dropped, exactly like the frame route's join (the cv × cv
            // pair table is complete per query, so this never fires on
            // well-formed input)
            val s = cc.get((q, e._1, picked))
            if (s == null) None
            else Some((e._1, e._2, math.max(e._3, s.longValue())))
          }
        }
        i += 1
      }
    }
    val schema = StructType(Seq(
      StructField("q_id", short.schema("q_id").dataType),
      StructField("c_id", short.schema("c_id").dataType),
      StructField("pick_rank", IntegerType, nullable = false),
      StructField("score_e6", LongType)))
    val res = DriverRoute.frameOf(short.sparkSession, out.toSeq, schema)
      .persist()
    res.count()
    Some(res)
  }

  /** Frame route of [[mmrDiverseTopK]]: k greedy rounds, each one
    * window argmax + one join, partition-parallel across queries, with
    * plans cut per round.
    */
  private[graft] def mmrByRounds(short: DataFrame, pair0: DataFrame, k: Int,
      lamNum: Int, lamDen: Int): DataFrame = {
    val pair = pair0.persist()
    // `cached` tracks the round's PERSISTED frame (the CC/kmeans loop
    // pattern): `state` is its LogicalRDD re-plan, whose unpersist
    // would be a no-op against the cache registry
    var cached = short.withColumn("maxsel", lit(0L)).persist()
    cached.count()
    var state: DataFrame = cached
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_e6").desc, col("c_id"))
    val score = lit(lamNum.toLong) * col("sim_e6") -
      lit((lamDen - lamNum).toLong) * col("maxsel")
    var picks = List.empty[DataFrame]
    for (i <- 1 to k) {
      val pick = state.withColumn("score_e6", score)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("c_id"), lit(i).as("pick_rank"),
          col("score_e6"))
        .persist()
      pick.count()
      picks ::= pick
      if (i < k) {
        val next = state
          .join(pick.select(col("q_id"), col("c_id").as("cb2")), Seq("q_id"))
          .filter(col("c_id") =!= col("cb2"))
          .join(pair, Seq("q_id", "c_id", "cb2"))
          .select(col("q_id"), col("c_id"), col("sim_e6"),
            greatest(col("maxsel"), col("sim_cc")).as("maxsel"))
          .persist()
        next.count()
        cached.unpersist()
        cached = next
        state = GraftShims.lineageLeaf(next)
      }
    }
    cached.unpersist()
    pair.unpersist()
    val out = picks.reverse.reduce(_ unionByName _).persist()
    out.count()
    picks.foreach(_.unpersist())
    out
  }

  /** Deterministic pseudo-random hyperplane weight (plane j, dim i):
    * a fixed LCG over the flattened index, centered on zero. Shared
    * with the SQL oracle.
    */
  def planeWeight(j: Int, i: Int, dims: Int): Long =
    ((1103515245L * (j.toLong * dims + i + 1) + 12345L) % 2001L) - 1000L

  /** Sign-pattern LSH bucket id over `planes` hyperplanes. `vec` must
    * be quantized (long array).
    */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { j =>
      val dot = dotI(vec,
        array((0 until dims).map(i => lit(planeWeight(j, i, dims))): _*))
      when(dot > 0L, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: top-k per query among corpus rows sharing the
    * query's LSH bucket (the scale path: shuffle on bucket, never a
    * cross product).
    */
  def knnLsh(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int, dims: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("vec").as("q_vec"),
      lshBucket(col("vec"), planes, dims).as("bucket"))
    val c = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"),
      lshBucket(col("vec"), planes, dims).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** IVF coarse quantizer: per-cell dimension sums + counts (the
    * centroid is sums/n — kept as exact integers so assignment math is
    * engine-reproducible). `vecs`: (id, vec quantized, cell) where
    * `cell` is the training assignment (k-means iterations would loop
    * assign→retrain; one round over a seed assignment is the classic
    * bootstrap).
    */
  def ivfCentroids(vecs: DataFrame, cellCol: String): DataFrame =
    vecs.select(col(cellCol).as("cell"), posexplode(col("vec")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("col")).as("sv"), count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        e => e.getField("sv")).as("svec"),
        min("n").as("n"))
      // s·s once per CELL, as a dimension-ordered double fold (the
      // per-element squares overflow a long for big cells; double
      // matches the SQL twin's list_dot_product semantics)
      .withColumn("ss", aggregate(col("svec"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Squared distance of a quantized vector to a centroid given as
    * (dimension sums s, count n, precomputed s·s), via the identity
    * n²·Σ(x_i - s_i/n)² = n²·x·x - 2n·x·s + s·s. The two per-pair
    * dot products run as native integer expressions (x is small:
    * x·x and x·s stay far below 2⁶³ for any realistic cell); the
    * n-scaling and the s·s term are DOUBLE — matching the SQL twin's
    * float dots bit-for-bit below 2⁵³ and degrading to float rounding
    * (never silent integer wraparound) beyond. s·s arrives
    * precomputed per CENTROID ([[ivfCentroids]]'s `ss`) because its
    * per-element squares overflow a long once cells reach ~10⁶
    * unit-scale vectors — and it is per-cell work, not per-pair.
    */
  def dist2ToCentroid(vec: Column, svec: Column, n: Column,
      ss: Column): Column = {
    val nd = n.cast("double")
    (nd * nd * dotI(vec, vec).cast("double") -
      lit(2.0d) * nd * dotI(vec, svec).cast("double") + ss) / (nd * nd)
  }

  /** Assign each vector to its nearest centroid (ties by cell id).
    * argmin as a min_by aggregation, not a window: the partial (map
    * -side) aggregate collapses the vec×centroid fan-out back to one
    * row per vector BEFORE the shuffle, so only corpus-sized data
    * moves — a window would shuffle and sort the full cross product.
    */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.select(col("id"), col("vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist2",
        dist2ToCentroid(col("vec"), col("svec"), col("n"), col("ss")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("vec"), col("cell")),
        struct(col("dist2"), col("cell"))).as("m"))
      .select(col("id"), col("m.vec").as("vec"), col("m.cell").as("cell"))

  /** Lloyd's k-means over quantized vectors: `iters` rounds of
    * centroid aggregation → nearest-centroid reassignment, starting
    * from the seed assignment in `cell`. Each round's centroid table
    * is collected to the driver (O(#cells) — the coarse-quantizer
    * codebook, never data-sized) and re-emitted as a local relation
    * feeding the broadcast side of the next assignment pass; each
    * round's assignment is persisted, materialized, re-planned over a
    * LogicalRDD leaf, and the previous round's cache evicted — without
    * that, round i's centroid collect would recompute assignment
    * passes 1..i−1 from the source and the loop would pay
    * O(iters²) corpus scans instead of two passes per round. The
    * data-sized work per round is one scan-shaped pass whose argmin
    * collapses map-side ([[ivfAssign]]). Centroids stay exact
    * (integer sums + count), so assignment — and therefore every
    * subsequent iteration — is engine-reproducible, empty cells
    * simply drop out, and ties break on cell id. Returns the final
    * round's PERSISTED frame: callers in long-lived sessions can
    * `result.unpersist()` after consuming it.
    */
  /** Distributed top principal direction of an embedding column by
    * POWER ITERATION on the second-moment matrix C = Σ x·xᵀ — the
    * dimensionality-reduction primitive (project-before-ANN, drift
    * axes, whitening diagnostics) without ever materializing the
    * d×d matrix: each round computes y = Σᵢ xᵢ·(xᵢ·v) as one scan
    * (a codegen'd `graft_dot` per row + a dim-keyed map-side-combined
    * aggregation) and renormalizes v on the driver — the only driver
    * traffic is O(dims) per round, the k-means-centroid contract.
    * No mean-centering (embeddings arrive cosine-normalized; C's top
    * direction is the standard Gram variant) — documented, not
    * hidden.
    *
    * Exact-integer trajectory (the PageRank discipline, so the
    * DuckDB twin replays bit-identically): components quantize to
    * e3; per-row dots truncate back by 1e3 with SIGN-SPLIT division
    * (Spark's `div` truncates toward zero, DuckDB's `//` floors —
    * sign-splitting makes them agree); v renormalizes each round by
    * max|y| to ±1e6 in exact BigInt math. C is PSD, so the iterate
    * cannot oscillate sign. Returns one row per dimension (dim
    * 1-based, v_e6) with the Rayleigh eigenvalue estimate λ_e6 and
    * its share of total variance share_ppm replicated across rows.
    */
  def topEigen(vecs: DataFrame, vec: Column, dims: Int,
      iters: Int): DataFrame = topEigenDeflated(vecs, vec, dims, iters,
    deflate = Nil)

  /** Second principal direction: [[topEigen]]'s iteration with the
    * ITERATE Gram-Schmidt-deflated against `v1` after every round
    * (y ← y − ((y·v1)/|v1|²)·v1, exact BigInt on the O(dims) driver
    * vector) — C is PSD, so the deflated iterate converges to the
    * second eigendirection. `v1` is [[topEigen]]'s e6 output column.
    * Same return shape; λ and share are the Rayleigh values of the
    * deflated direction.
    */
  def secondEigen(vecs: DataFrame, vec: Column, v1: Array[Long],
      dims: Int, iters: Int): DataFrame = {
    require(v1.length == dims, s"v1 has ${v1.length} dims, need $dims")
    require(v1.exists(_ != 0L), "v1 must be non-zero")
    topEigenDeflated(vecs, vec, dims, iters, deflate = Seq(v1))
  }

  /** Top-k principal directions via iterated deflation: component j
    * runs [[topEigen]]'s power iteration with the iterate
    * Gram-Schmidt-deflated against components 1..j−1 after every
    * round (the [[secondEigen]] mechanics, generalized to a
    * deflation LIST applied in order — for k=2 the trajectory is
    * bit-identical to topEigen + secondEigen). Driver traffic stays
    * O(k·dims) total; the data is scanned k·iters times. Returns one
    * row per (comp 1-based, dim 1-based) with v_e6 and the
    * component's Rayleigh λ_e6 / share_ppm replicated across its
    * dims.
    */
  def topEigenK(vecs: DataFrame, vec: Column, dims: Int, iters: Int,
      k: Int): DataFrame = {
    require(k >= 1 && k <= dims, s"need 1 <= k <= dims, got k=$k")
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val frames = (1 to k).map { comp =>
      val df = topEigenDeflated(vecs, vec, dims, iters, dirs.toSeq)
      dirs += df.orderBy("dim").collect().map(_.getLong(1))
      df.withColumn("comp", lit(comp.toLong))
    }
    frames.reduce(_ unionByName _)
      .select("comp", "dim", "v_e6", "lambda_e6", "share_ppm")
  }

  /** Project each vector onto caller-supplied principal directions
    * ([[topEigen]]/[[secondEigen]] e6 outputs): one scan, one
    * codegen'd `graft_dot` per direction, coordinates in the same e6
    * scale as the iterate's dq (the trajectory's exact integers —
    * the twin replays them). Returns (id, c1_e6[, c2_e6, ...]).
    */
  def projectEigen(vecs: DataFrame, id: Column, vec: Column,
      dirs: Seq[Array[Long]]): DataFrame = {
    require(dirs.nonEmpty, "need at least one direction")
    import graft.functions.NativeExpressions.dotLongNative
    def sdiv(c: Column, by: Long): Column =
      when(c < 0, -call_function("div", -c, lit(by)))
        .otherwise(call_function("div", c, lit(by)))
    val eq = transform(vec,
      x => round(x.cast("double") * 1000, 0).cast("long"))
    val cols = dirs.zipWithIndex.map { case (v, i) =>
      sdiv(dotLongNative(eq, typedLit(v.toSeq)), 1000L)
        .as(s"c${i + 1}_e6")
    }
    vecs.select(id.as("id") +: cols: _*)
  }

  /** Truncating integer division as the PCA grid-cell key — Spark's
    * `div` and DuckDB's integer `//` both truncate toward zero, so
    * the bare operator is already in lockstep. (Truncation makes the
    * cell at 0 span (−grid, grid) — twice the width; harmless for a
    * probe heuristic and documented rather than papered over.)
    */
  private def truncDivCol(a: Column, b: Long): Column =
    call_function("div", a, lit(b))

  /** Candidate pairs for the PCA-grid ANN tier: corpus and queries
    * are keyed by their floor(c/grid) cell in the 2-d PCA projection
    * ([[projectEigen]] output), and each query probes its 3×3 cell
    * neighborhood. The probe explodes the QUERY side ×9 and
    * equi-joins on the cell key — the corpus is scanned once and
    * shuffled/broadcast on (g1, g2), never a cross join, so the
    * shape survives an arbitrary corpus (the IVF cell-pruning story
    * with a data-independent index). Inputs carry (id, c1_e6,
    * c2_e6); returns (q_id, c_id) candidate pairs (self excluded).
    */
  def pcaGridCandidates(queries: DataFrame, corpus: DataFrame,
      grid: Long): DataFrame = {
    require(grid > 0, s"need grid > 0, got $grid")
    val c = corpus.select(col("id").as("c_id"),
      truncDivCol(col("c1_e6"), grid).as("g1"),
      truncDivCol(col("c2_e6"), grid).as("g2"))
    val offs = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    val q = queries.select(col("id").as("q_id"),
        truncDivCol(col("c1_e6"), grid).as("qg1"),
        truncDivCol(col("c2_e6"), grid).as("qg2"))
      .withColumn("__o", explode(offs))
      .select(col("q_id"),
        (col("qg1") + col("__o.dx")).as("g1"),
        (col("qg2") + col("__o.dy")).as("g2"))
    // no broadcast hint: the probe side is queries ×9, and a LARGE
    // query set (corpus-vs-corpus dedup probing) under a forced hint
    // becomes a driver collect/OOM — the join is already an equi-join
    // on (g1, g2), so AQE picks broadcast when the exploded probe
    // side measures small and a shuffle join when it doesn't
    // (round-16 fix)
    c.join(q, Seq("g1", "g2"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"))
  }

  /** ANN top-k through the PCA grid: [[pcaGridCandidates]] generates
    * the shortlist in projected space, the rank is the EXACT
    * full-dimension integer cosine (the ADC-shortlist → exact
    * re-rank discipline the PQ/SQ8 tiers use). `queries`/`corpus`
    * carry (id, vec, c1_e6, c2_e6) with vec quantized. Returns
    * (q_id, c_id, rank, sim).
    */
  def knnPcaGrid(queries: DataFrame, corpus: DataFrame, grid: Long,
      k: Int): DataFrame = {
    val cand = pcaGridCandidates(queries, corpus, grid)
    val scored = cand
      .join(queries.select(col("id").as("q_id"), col("vec").as("q_vec")),
        "q_id")
      .join(corpus.select(col("id").as("c_id"), col("vec").as("c_vec")),
        "c_id")
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Exact-integer sign-split truncating division on the driver:
    * matches the column-side sdiv and DuckDB's sign-split `//`.
    */
  private def sdivBig(a: BigInt, b: BigInt): BigInt =
    (a.abs / b) * a.signum

  private def topEigenDeflated(vecs: DataFrame, vec: Column, dims: Int,
      iters: Int, deflate: Seq[Array[Long]]): DataFrame = {
    require(dims > 0, s"need dims > 0, got $dims")
    require(iters >= 1, s"need iters >= 1, got $iters")
    import graft.functions.NativeExpressions.dotLongNative
    val spark = vecs.sparkSession
    val dec = "decimal(38,0)"
    val base = vecs.select(transform(vec,
      x => round(x.cast("double") * 1000, 0).cast("long")).as("eq"))
    base.persist()
    try {
      // sign-split truncating division: both engines agree on
      // non-negative operands
      def sdiv(c: Column, by: Long): Column =
        when(c < 0, -call_function("div", -c, lit(by)))
          .otherwise(call_function("div", c, lit(by)))
      def dqOf(v: Array[Long]): Column =
        sdiv(dotLongNative(col("eq"), typedLit(v.toSeq)), 1000L)
      // deflation vectors applied IN ORDER (sequential Gram-Schmidt
      // — for a single vector this is byte-identical to the old
      // secondEigen path, so the committed twin trajectories hold)
      val dens = deflate.map(v1 => v1.map(x => BigInt(x) * BigInt(x)).sum)
      def deflated(y: Array[BigInt]): Array[BigInt] =
        deflate.zip(dens).foldLeft(y) { case (acc, (v1, den1)) =>
          val proj = acc.zip(v1).map { case (a, b) => a * b }.sum
          acc.zip(v1).map { case (a, b) =>
            a - sdivBig(proj * b, den1) }
        }
      var v = Array.fill(dims)(1000000L)
      for (_ <- 1 to iters) {
        val y = base.withColumn("__dq", dqOf(v))
          .select(col("__dq"), posexplode(col("eq")).as(Seq("d0", "e")))
          .groupBy("d0")
          .agg(sum(col("e").cast(dec) * col("__dq").cast(dec)).as("y"))
          .collect() // O(dims) rows — bounded
        val yArr = Array.fill(dims)(BigInt(0))
        y.foreach(r => yArr(r.getInt(0)) =
          BigInt(r.getDecimal(1).toBigInteger))
        val yd = deflated(yArr)
        val mx = yd.map(_.abs).max
        require(mx > BigInt(0),
          "topEigen: C·v vanished — all-zero vectors (or v orthogonal " +
            "to the data); nothing to normalize")
        v = yd.map(b => ((b.abs * 1000000 / mx) * b.signum).toLong)
      }
      val stats = base.withColumn("__dq", dqOf(v))
        .agg(sum(col("__dq").cast(dec) * col("__dq").cast(dec)).as("num"),
          sum(dotLongNative(col("eq"), col("eq")).cast(dec)).as("trace"))
        .head()
      val num = BigInt(stats.getDecimal(0).toBigInteger)
      val trace = BigInt(stats.getDecimal(1).toBigInteger) // x² in e6
      val den = v.map(x => BigInt(x) * BigInt(x)).sum
      val lambdaE6 = (num * 1000000 / den).toLong
      val sharePpm =
        if (trace > 0) (BigInt(lambdaE6) * 1000000 / trace).toLong
        else 0L
      import spark.implicits._
      v.zipWithIndex
        .map { case (x, i) => (i + 1L, x, lambdaE6, sharePpm) }
        .toSeq.toDF("dim", "v_e6", "lambda_e6", "share_ppm")
    } finally base.unpersist()
  }

  def kmeans(vecs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one iteration")
    val spark = vecs.sparkSession
    var assigned = vecs.select(col("id"), col("vec"), col("cell"))
    var cached: DataFrame = null
    for (_ <- 1 to iters) {
      val cents = ivfCentroids(assigned, "cell")
      val local = spark.createDataFrame(
        java.util.Arrays.asList(cents.collect(): _*), cents.schema)
      val next = ivfAssign(assigned, local)
      next.persist()
      next.count() // materialize BEFORE dropping the cache it reads
      if (cached != null) cached.unpersist()
      cached = next
      assigned = GraftShims.lineageLeaf(next)
    }
    cached
  }

  /** Query-side probe list: the `nprobe` nearest cells per query
    * vector (ties by cell id), one output row per (query, probed
    * cell). The window is sound here because the probe set is the
    * QUERY side — small by definition; the corpus keeps its single
    * -cell assignment from [[ivfAssign]].
    */
  def ivfProbe(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val scored = queries.select(col("id"), col("vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist2",
        dist2ToCentroid(col("vec"), col("svec"), col("n"), col("ss")))
    val w = Window.partitionBy("id").orderBy(col("dist2"), col("cell"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("id"), col("vec"), col("cell"))
  }

  /** IVF search: queries probe their listed cell(s) — pass the output
    * of [[ivfAssign]] filtered to the query ids for nprobe=1, or
    * [[ivfProbe]] for multi-probe. A corpus vector lives in exactly
    * one cell, so multi-probe candidates need no dedup.
    */
  def knnIvf(queries: DataFrame, assigned: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("vec").as("q_vec"),
      col("cell"))
    val c = assigned.select(col("id").as("c_id"), col("vec").as("c_vec"),
      col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Near-duplicate pairs by cosine within a blocking key (e.g. a
    * label or an LSH bucket) — the blocked join bounds the pair count.
    *
    * SCALE WARNING: all-pairs within a block — quadratic in the
    * hottest block. Use [[nearDupPairsLsh]] for data-sized inputs;
    * this form survives only as the brute-force baseline for small
    * blocks.
    */
  def nearDupPairs(vecs: DataFrame, blockKey: String, threshold: Double): DataFrame = {
    val a = vecs.select(col(blockKey).as("bk"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = vecs.select(col(blockKey).as("bk"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosineI(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Scale-safe near-dup: candidates must agree on the blocking key
    * AND on at least one band of hyperplane-LSH sign bits, then the
    * exact cosine verifies. The shuffle key is (block, band, band
    * bits) so a hot block no longer goes quadratic — its rows split
    * across 2^bitsPerBand sub-buckets per band. Deterministic (the
    * hyperplanes come from [[planeWeight]]'s fixed constants), so the
    * candidate set — and hence the output — is engine-reproducible:
    * this is a DEFINED approximate operator, not a lossy shortcut; a
    * pair that collides on no band is excluded by definition.
    */
  def nearDupPairsLsh(vecs: DataFrame, blockKey: String, threshold: Double,
      planes: Int, dims: Int, bands: Int): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val bitsPerBand = planes / bands
    // one pass computes the bucket (planes dot products), then an
    // explode fans each row into its `bands` band keys — the unioned
    // -branches form re-scanned the corpus and re-derived the bucket
    // once PER BAND (subexpression elimination keeps the single
    // lshBucket evaluation shared across the array elements here)
    val banded = vecs
      .withColumn("__bk", lshBucket(col("vec"), planes, dims))
      .select(col(blockKey).as("bk"), col("id"), col("vec"),
        explode(array((0 until bands).map { bd =>
          concat_ws(":", lit(bd),
            shiftright(col("__bk"), bd * bitsPerBand)
              .bitwiseAND((1L << bitsPerBand) - 1L))
        }: _*)).as("band_key"))
    val a = banded.select(col("bk"), col("band_key"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = banded.select(col("bk"), col("band_key"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.join(b, Seq("bk", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosineI(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      // verify-then-dedup: survivors are rare, so the distinct is tiny
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  // ───────────────────────── product quantization ─────────────────────────
  // The production memory shape for vector search at corpus scale:
  // the corpus is stored as M small integer codes per vector (one
  // nearest-centroid id per dimension-subspace) instead of the full
  // vector, and query distance is approximated as the sum of
  // per-subspace distances read from a (query × codebook) lookup
  // table. At 100 TB the full-vector corpus never moves: only codes
  // join the broadcast LUT. Training reuses the exact-integer Lloyd
  // machinery above per subspace, so codes — and therefore ADC ranks
  // — are engine-reproducible (the DuckDB twin re-derives them).

  /** The j-th of `m` contiguous dimension-subspaces of a vector. */
  def pqSlice(vec: Column, j: Int, subDim: Int): Column =
    slice(vec, j * subDim + 1, subDim)

  /** Train per-subspace codebooks and encode the corpus.
    * `vecs`: (id, vec quantized) with `dims` dimensions. Returns
    * (codebook, codes): codebook = (sub, cell, svec, n, ss) — m·k
    * rows, the broadcastable index; codes = (id, sub, code) — the
    * compressed corpus, M integers per vector. Per subspace: Lloyd
    * from an id-seeded assignment, then codebook-consistent closing
    * assignment (the AnnIndex pattern), so stored codes always match
    * the stored codebook.
    *
    * The returned `codes` comes back PERSISTED and materialized (it
    * is computed while each subspace's k-means cache is still alive —
    * unpersisting the training caches first would force the whole
    * per-subspace Lloyd lineage to recompute when the caller writes
    * codes out). Call `codes.unpersist()` after consuming it.
    */
  def pqTrainEncode(vecs: DataFrame, m: Int, dims: Int, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val spark = vecs.sparkSession
    val subDim = dims / m
    val parts = (0 until m).map { j =>
      val sv = vecs.select(col("id"),
        pqSlice(col("vec"), j, subDim).as("vec"),
        pmod(col("id"), lit(k.toLong)).as("cell"))
      val trained = kmeans(sv, iters)
      val cents = ivfCentroids(trained, "cell")
      val localCents = spark.createDataFrame(
        java.util.Arrays.asList(cents.collect(): _*), cents.schema)
      val codes = ivfAssign(trained, localCents)
        .select(col("id"), lit(j).as("sub"), col("cell").as("code"))
      (localCents.withColumn("sub", lit(j)), codes, trained)
    }
    val codesAll = parts.map(_._2).reduce(_ unionByName _).persist()
    codesAll.count() // materialize BEFORE dropping the kmeans caches
    parts.foreach(_._3.unpersist())
    (parts.map(_._1).reduce(_ unionByName _), codesAll)
  }

  /** Encode `vecs` (id, vec) against an EXISTING local codebook —
    * the append path's encoder: no training, every code is the argmin
    * over the stored per-subspace centroids (deterministic, so a
    * replayed batch re-encodes identically). Returns (id, sub, code).
    */
  def pqEncode(vecs: DataFrame, codebook: DataFrame, m: Int,
      dims: Int): DataFrame = {
    val subDim = dims / m
    (0 until m).map { j =>
      val sv = vecs.select(col("id"),
        pqSlice(col("vec"), j, subDim).as("vec"))
      val cbj = codebook.filter(col("sub") === j).drop("sub")
      ivfAssign(sv, cbj)
        .select(col("id"), lit(j).as("sub"), col("cell").as("code"))
    }.reduce(_ unionByName _)
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus.
    * `queries`: (id, vec) full-dimension; `codebook`/`codes` from
    * [[pqTrainEncode]]. The LUT is (queries × m × k) rows — tiny, one
    * broadcast — and the corpus side touches only its codes: the
    * full-vector scan disappears, which is the entire point of PQ.
    * The per-subspace distances are summed in SUBSPACE ORDER via an
    * explicit fold (not a float sum whose order the engine picks), so
    * the total — and the (adist, c_id) rank — is deterministic and
    * cross-engine reproducible.
    */
  def pqAdcTopK(queries: DataFrame, codebook: DataFrame, codes: DataFrame,
      m: Int, dims: Int, k: Int): DataFrame = {
    val subDim = dims / m
    val lut = queries.select(col("id").as("q_id"), col("vec"))
      .withColumn("sub", explode(array((0 until m).map(lit(_)): _*)))
      .withColumn("qv",
        slice(col("vec"), col("sub") * subDim + 1, lit(subDim)))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d2",
        dist2ToCentroid(col("qv"), col("svec"), col("n"), col("ss")))
      .select(col("q_id"), col("sub"), col("cell").as("code"), col("d2"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id").as("c_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("d2")))),
          e => e.getField("d2")),
        lit(0.0d), (acc, x) => acc + x).as("adist"))
    val w = Window.partitionBy("q_id").orderBy(col("adist"), col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        round(col("adist"), 6).as("adist"))
  }

  /** ADC shortlist + EXACT re-rank — the production serving shape for
    * recall targets ADC alone cannot hit (quantization noise caps raw
    * ADC recall; on clusterless vectors it plateaus well under
    * production thresholds no matter the codebook size). The codes
    * scan produces an ADC top-`shortlist` per query, then ONLY those
    * candidates' full vectors are fetched (a broadcast semi-join of
    * O(#queries × shortlist) ids against the corpus — no corpus
    * shuffle, no full-vector scan per query) and re-scored with exact
    * cosine. Output matches [[knnBrute]]: (q_id, c_id, rank, sim) —
    * recall@k is then a property of the shortlist width, the dial a
    * deployment turns instead of retraining codebooks.
    */
  def pqAdcRefineTopK(queries: DataFrame, codebook: DataFrame,
      codes: DataFrame, corpus: DataFrame, m: Int, dims: Int, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cand = pqAdcTopK(queries, codebook, codes, m, dims, shortlist)
      .select(col("q_id"), col("c_id"))
    val qv = queries.select(col("id").as("q_id"), col("vec").as("__qv"))
    val exact = corpus.select(col("id").as("c_id"), col("vec").as("__cv"))
      .join(broadcast(cand), Seq("c_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("sim", cosineI(col("__qv"), col("__cv")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Scalar int8 quantization (SQ8): each dimension mapped to 0..255
    * by the corpus per-dimension min/max — the simplest vector
    * compression tier (4× over float32, 8× over the e3-quantized
    * longs), below PQ in ratio but with NO codebook training and an
    * EXACT-INTEGER distance. Returns (id, code: array<long of 0..255>).
    * A constant dimension (mx == mn) encodes to 0 everywhere.
    *
    * Scale shape: one per-dimension min/max aggregation (map-side
    * combined, output = #dims rows — an O(dims) driver collect, the
    * codebook convention), then encoding is a zero-shuffle projection
    * with the bounds inlined as literals.
    */
  def sq8Encode(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val base = df.select(id.as("id"), vec.as("__v"))
    val st = base.select(posexplode(col("__v")))
      .groupBy("pos").agg(
        min(col("col").cast("double")).as("mn"),
        max(col("col").cast("double")).as("mx"))
      .orderBy("pos").collect()
    val mnArr = array(st.map(r => lit(r.getDouble(1))): _*)
    val rngArr = array(st.map(r => lit(r.getDouble(2) - r.getDouble(1))): _*)
    base.select(col("id"),
      zip_with(
        zip_with(col("__v"), mnArr, (v, m) => v.cast("double") - m),
        rngArr,
        (s, r) => when(r > 0,
          least(greatest(round(s / r * 255d, 0), lit(0.0d)), lit(255.0d)))
          .otherwise(lit(0.0d)).cast("long")).as("code"))
  }

  /** Exact-integer top-k over SQ8 codes: distance is the int squared
    * L2 between code vectors — a BIGINT sum, so ranking is
    * engine-exact with (idist asc, c_id) ties and needs no float
    * re-rank to be reproducible. Queries broadcast over the corpus
    * scan (the [[knnBrute]] shape). Returns (q_id, c_id, rank,
    * idist).
    */
  def sq8Knn(codes: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = codes.filter(queryPred)
      .select(col("id").as("q_id"), col("code").as("__qc"))
    val c = codes.select(col("id").as("c_id"), col("code").as("__cc"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("idist",
        aggregate(zip_with(col("__qc"), col("__cc"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy("q_id").orderBy(col("idist").asc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"),
        col("rank").cast("long").as("rank"), col("idist"))
  }

  /** Deterministic pseudo-random projection weight (output dim r,
    * input dim i): the [[planeWeight]] LCG with a different increment
    * and a 10-bit downshift BEFORE the modulus (the multiplier is
    * divisible by 21, so an unshifted `% 21` would be constant),
    * range [-10, 10] — small by design: a projected coordinate stays
    * under dims·1000·10 and a 16-dim projected dot product under
    * ~7e12, inside the double-exact integer range, so the SQL twin's
    * DOUBLE list arithmetic reproduces the Spark BIGINT sums
    * bit-for-bit.
    */
  def rpWeight(r: Int, i: Int, dims: Int): Long =
    (((1103515245L * (r.toLong * dims + i + 1) + 54321L) / 1024L) % 21L) - 10L

  /** Johnson–Lindenstrauss dense random projection of a quantized
    * vector down to `rdim` integer coordinates (one exact integer dot
    * per output dim, codegen'd). The scale story: the projection is a
    * STORED code column (the SQ8 convention) — a 64→16 projection
    * cuts the candidate-scan multiply count 4× and the scanned bytes
    * likewise, while JL keeps relative distances within (1±ε) w.h.p.
    */
  def rpProject(vec: Column, rdim: Int, dims: Int): Column =
    array((0 until rdim).map { r =>
      dotI(vec, array((0 until dims).map(i =>
        lit(rpWeight(r, i, dims))): _*))
    }: _*)

  /** Two-stage ANN through the projection: per query, shortlist by
    * cosine in the rdim-projected space, then exact full-dim re-rank
    * of the shortlist only (the PQ ADC-refine shape without a
    * codebook). The corpus is scanned once with the query set
    * broadcast; the exact cosine is evaluated AFTER the shortlist
    * filter, so full-width vectors price in only O(shortlist) rows
    * per query. Returns (q_id, c_id, rank, sim).
    */
  def knnRp(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int, rdim: Int, dims: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), col("vec").as("q_vec"),
      rpProject(col("vec"), rdim, dims).as("__qp"))
    val c = corpus.select(col("id").as("c_id"), col("vec").as("c_vec"),
      rpProject(col("vec"), rdim, dims).as("__cp"))
    val pw = Window.partitionBy("q_id").orderBy(col("psim").desc, col("c_id"))
    val sl = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("psim", cosineI(col("__qp"), col("__cp")))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= shortlist)
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    sl.withColumn("sim", cosineI(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"),
        col("rank").cast("long").as("rank"), round(col("sim"), 6).as("sim"))
  }
}
