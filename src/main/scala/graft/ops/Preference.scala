package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types._

/** Pairwise-preference aggregation — the RLHF-data primitive: given a
  * stream of comparisons ("A beat B"), fit a Bradley-Terry strength
  * per item (Bradley & Terry 1952) with Hunter's MM iteration
  * (Hunter 2004, "MM algorithms for generalized Bradley-Terry
  * models"):
  *
  *   θ_i ← W_i / Σ_j n_ij / (θ_i + θ_j)
  *
  * where W_i = i's total wins and n_ij = games between i and j.
  *
  * Scale shape: the corpus-sized work is ONE pass — a per-user lag
  * window (scan-parallel, shuffled once by user) and a groupBy onto
  * the canonical pair table, which is O(items²) and item-bounded
  * (event types, model ids, prompt templates — never corpus-sized).
  * The MM fixed-point then runs on that collected table,
  * O(iters · items²) driver work — the same bounded-state pattern as
  * the k-means centroid and BPE merge loops. (An unbounded item set
  * would instead keep θ as a frame and run each MM step as a
  * broadcast join + re-aggregation, PageRank-style.)
  *
  * Exactness contract: θ is integer micro-units; every MM transfer
  * n_ij·Q/(θ_i+θ_j) floor-divides BigInt integers BEFORE summation
  * and each round renormalizes to Σθ = items·1e6 by one more floor
  * division — the whole trajectory is exact integer arithmetic, so a
  * SQL twin replays it verbatim with unrolled CTEs (HUGEINT `//` and
  * BigInt `/` agree: both floor for positive operands).
  */
object Preference {

  /** e12 transfer quantizer: n·Q/(θ_i+θ_j) keeps ~6 significant
    * digits past the e6 θ scale, and W·Q stays far inside 128-bit
    * range for any real corpus.
    */
  private val Q = BigInt("1000000000000")
  private val Scale = BigInt(1000000)

  /** Canonical pairwise comparisons from an event stream: consecutive
    * events of one user (ordered by `orderUs`, event_id) with
    * DIFFERENT types and DIFFERENT values form one game; the type
    * with the larger value wins. Returns one row per unordered pair:
    * (item_a < item_b, wins_a, wins_b).
    */
  def pairwiseFromEvents(events: DataFrame,
      orderUs: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(orderUs, col("event_id"))
    events
      .withColumn("__pt", lag(col("event_type"), 1).over(w))
      .withColumn("__pv", lag(col("value"), 1).over(w))
      .filter(col("__pt").isNotNull && col("__pt") =!= col("event_type") &&
        col("value") =!= col("__pv"))
      .select(
        least(col("event_type"), col("__pt")).as("item_a"),
        greatest(col("event_type"), col("__pt")).as("item_b"),
        when(col("value") > col("__pv"), col("event_type"))
          .otherwise(col("__pt")).as("__win"))
      .groupBy("item_a", "item_b")
      .agg(
        sum(when(col("__win") === col("item_a"), 1L).otherwise(0L))
          .as("wins_a"),
        sum(when(col("__win") === col("item_b"), 1L).otherwise(0L))
          .as("wins_b"))
  }

  /** The driver path's hard ceiling: above this many items the
    * O(items²) pair collect and the per-item neighbor scan stop being
    * "bounded driver state" — [[bradleyTerry]] refuses loudly and
    * [[bradleyTerryAuto]] routes to [[bradleyTerryDistributed]].
    */
  val DriverMaxItems = 1024

  /** Bradley-Terry strengths by `iters` MM rounds over a canonical
    * pair table (item_a, item_b, wins_a, wins_b). The pair table is
    * collected — it is O(items²) by construction (see object doc) and
    * guarded by [[DriverMaxItems]]: a larger domain fails loudly and
    * belongs on [[bradleyTerryDistributed]].
    * Returns (item, wins, games, theta_e6, rk) ranked by strength
    * (ties by item).
    */
  def bradleyTerry(spark: SparkSession, pairs: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val pc = pairs.select("item_a", "item_b", "wins_a", "wins_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    require(pc.nonEmpty, "bradleyTerry needs at least one compared pair")
    val items = pc.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    require(items.length <= DriverMaxItems,
      s"bradleyTerry keeps the O(items²) pair table on the driver — " +
        s"${items.length} items exceeds the $DriverMaxItems ceiling; " +
        "use bradleyTerryDistributed (or bradleyTerryAuto)")
    val wins = items.map { i =>
      i -> pc.map { case (a, b, wa, wb) =>
        if (i == a) wa else if (i == b) wb else 0L }.sum
    }.toMap
    // directed neighbor lists with total games per edge
    val edges: Map[String, Seq[(String, Long)]] = {
      val dir = pc.flatMap { case (a, b, wa, wb) =>
        Seq((a, b, wa + wb), (b, a, wa + wb)) }
      items.map(i => i ->
        dir.filter(_._1 == i).map(e => (e._2, e._3)).toSeq).toMap
    }
    val k = BigInt(items.length)
    var th: Map[String, BigInt] = items.map(_ -> Scale).toMap
    for (_ <- 1 to iters) {
      val raw = items.map { i =>
        val w = wins(i)
        if (w == 0L) BigInt(1)
        else {
          val den = edges(i).map { case (j, n) =>
            (BigInt(n) * Q) / (th(i) + th(j)) }.sum
          (BigInt(w) * Q) / den
        }
      }
      val s = raw.sum
      th = items.zip(raw).map { case (i, r) =>
        i -> ((r * (k * Scale)) / s).max(BigInt(1)) }.toMap
    }
    val ranked = items
      .map(i => (i, wins(i), edges(i).map(_._2).sum, th(i).toLong))
      .sortBy { case (i, _, _, t) => (-t, i) }
      .zipWithIndex
      .map { case ((i, w, g, t), r) => Row(i, w, g, t, r + 1L) }
    DriverRoute.frameOf(spark, ranked.toSeq,
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("wins", LongType, nullable = false),
        StructField("games", LongType, nullable = false),
        StructField("theta_e6", LongType, nullable = false),
        StructField("rk", LongType, nullable = false))))
  }

  /** [[bradleyTerry]] with every per-round quantity computed as
    * DataFrame aggregates — the path for item domains too large to
    * collect (content sources, prompt clusters): θ lives as an
    * O(items) frame broadcast into the edge join, the O(items²) edge
    * table only ever scans and aggregates, and the single driver-side
    * value per round is the 1-row normalization sum.
    *
    * Exactness: the SAME integer trajectory as the BigInt loop.
    * Every transfer/normalization floor-divides DECIMAL(38,0)
    * integers via an exact two-step floor (the HALF_UP quotient is
    * provably in {⌊q⌋, ⌊q⌋+1}, so one multiply-back correction pins
    * the floor), and a per-round null count fails loudly if any
    * intermediate ever exceeded 38 digits — quantization can
    * overflow only by raising, never by drifting.
    *
    * Per-round lineage is cut with the persist + LogicalRDD pattern
    * (the PageRank loop); the returned frame owns its rows.
    *
    * Quantization bound (shared with the driver path, where BigInt
    * division by zero throws the same way): a per-edge transfer
    * floors to 0 when θ_i + θ_j exceeds n·Q — reachable only when
    * the item domain passes ~5·10⁵ items AND an item's every edge
    * carries a single game — and an all-zero denominator then fails
    * loudly as a division error. Domains beyond that regime need a
    * larger transfer quantum Q, not silent rescaling.
    */
  def bradleyTerryDistributed(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = pairs.sparkSession
    val dec = DecimalType(38, 0)
    val qLit = lit(new java.math.BigDecimal(Q.bigInteger)).cast(dec)
    // exact floor(a / b) for non-negative DECIMAL(38,0) operands:
    // the decimal division rounds HALF_UP at scale 6 then again at
    // scale 0, landing in {floor, floor+1}; multiplying back picks
    def dfloor(a: Column, b: Column): Column = {
      val qa = (a / b).cast(dec)
      when(qa * b > a, qa - lit(1)).otherwise(qa)
    }
    val e = pairs.select(
        col("item_a").as("i"), col("item_b").as("j"),
        (col("wins_a") + col("wins_b")).as("n"), col("wins_a").as("wi"))
      .unionByName(pairs.select(
        col("item_b").as("i"), col("item_a").as("j"),
        (col("wins_a") + col("wins_b")).as("n"), col("wins_b").as("wi")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = e.groupBy("i")
      .agg(sum("wi").as("wins"), sum("n").as("games"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cached: DataFrame = null
    try {
      val k = w.count() // materializes both caches
      require(k > 0, "bradleyTerryDistributed needs a compared pair")
      // per-round shuffle width = the directed edge rows (cheap count
      // off the cache) — gates the round loop's low-latency regime
      val edgeRows = e.count()
      val kScale = lit(new java.math.BigDecimal(
        (BigInt(k) * Scale).bigInteger)).cast(dec)
      var th = w.select(col("i"),
        lit(new java.math.BigDecimal(Scale.bigInteger)).cast(dec).as("th"))
      FixpointExec.withTinyRounds(spark, edgeRows) {
      for (_ <- 1 to iters) {
        val ta = th.select(col("i"), col("th").as("__ta"))
        val tb = th.select(col("i").as("j"), col("th").as("__tb"))
        val den = e.join(broadcast(ta), "i").join(broadcast(tb), "j")
          .select(col("i"),
            dfloor(col("n").cast(dec) * qLit,
              col("__ta") + col("__tb")).as("t"))
          .groupBy("i").agg(sum("t").cast(dec).as("den"))
        // persist + LogicalRDD cut per round at the RAW stage: the
        // normalization collect and next-θ projection both read the
        // cache, so the den+raw join subtree prices once per round
        // (pinning `next` instead re-ran it for the collect), and
        // round k's plan never embeds k copies of the iteration
        val raw = w.join(den, "i")
          .select(col("i"),
            when(col("wins") === 0L, lit(1).cast(dec))
              .otherwise(dfloor(col("wins").cast(dec) * qLit,
                col("den"))).as("raw"))
        raw.persist()
        val rawCut = GraftShims.lineageLeaf(raw)
        // the normalization collect doubles as the cache
        // materializer — one driver action per round, not two; the
        // PREVIOUS round's pin is released only after it runs (this
        // round's raw reads the previous θ)
        val sRow = rawCut.agg(sum("raw").cast(dec).as("s"),
          sum(when(col("raw").isNull, 1L).otherwise(0L)).as("nn")).head()
        if (cached != null) cached.unpersist()
        cached = raw
        require(sRow.getLong(1) == 0L,
          "bradleyTerryDistributed: a transfer overflowed DECIMAL(38,0)" +
            " — the win/game magnitudes exceed the e12 quantization's" +
            " headroom")
        // the theta scale-up gets its own loud overflow guard: if
        // raw * kScale exceeds 38 digits the product is null, and a
        // bare greatest(dfloor(null,...), 1) would SKIP the null and
        // silently pin theta to 1 — raise instead (the nn null count
        // above only covers the raw column, not this product)
        val prod = (col("raw") * kScale).cast(dec)
        val prodChecked = when(prod.isNull,
          raise_error(lit("bradleyTerryDistributed: the theta " +
            "scale-up overflowed DECIMAL(38,0) — the item count and " +
            "quantization scale exceed the e12 headroom")).cast(dec))
          .otherwise(prod)
        th = rawCut.select(col("i"),
          greatest(dfloor(prodChecked,
            lit(sRow.getDecimal(0)).cast(dec)), lit(1).cast(dec)).as("th"))
      }
      }
      val out = w.join(th, "i")
        .select(col("i").as("item"), col("wins"), col("games"),
          col("th").cast("long").as("theta_e6"))
      // the two-level rank materializes the result (items-bounded)
      // before the finally releases every pin
      Ranks.globalRowNumber(out,
          Seq(col("theta_e6").desc, col("item")), "rk")
        .select("item", "wins", "games", "theta_e6", "rk")
    } finally {
      e.unpersist(); w.unpersist()
      if (cached != null) cached.unpersist()
    }
  }

  /** Route by item count: the exact-BigInt driver trajectory while
    * the domain collects comfortably, the frame-based iteration
    * beyond — both produce the identical integer trajectory
    * (spec-pinned), so the route changes cost, never answers.
    */
  def bradleyTerryAuto(spark: SparkSession, pairs: DataFrame, iters: Int,
      driverMaxItems: Int = DriverMaxItems): DataFrame = {
    val nItems = pairs.select(col("item_a").as("i"))
      .unionByName(pairs.select(col("item_b").as("i")))
      .distinct().count()
    if (nItems <= driverMaxItems) bradleyTerry(spark, pairs, iters)
    else bradleyTerryDistributed(pairs, iters)
  }
}
