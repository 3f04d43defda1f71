package graft

import graft.ops.{Dedup, PipelineOps, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** The session-5 corpus operators: repetition metrics, TF-IDF,
  * temperature sampling, k-means, and connected components. The CC
  * fixtures exercise the iteration machinery specifically (a long
  * chain needs several propagation rounds; the oracle-side recursive
  * CTE cross-checks the real corpus in doc_dup_components).
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chain converges to min id over many rounds") {
    // 0-1-2-...-9 as a path: diameter 9 forces multiple iterations
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("connectedComponents: disjoint components, reversed ids, self-loop") {
    val edges = Seq((5L, 3L), (3L, 7L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the self-loop vertex is dropped (no real edge); isolated vertices
    // are the caller's coalesce(comp, id) responsibility
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: matches union-find on random graphs") {
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .groupBy(v => find(v.toInt))
        .flatMap { case (_, vs) => val m = vs.min; vs.map(_ -> m) }
      val got = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  /** The two routes of connectedComponents, called directly. */
  private def componentsOnDriver(edges: org.apache.spark.sql.DataFrame) =
    Dedup.componentsOnDriver(Dedup.symmetricEdges(edges, "id_a", "id_b")._1)
  private def componentsByRounds(edges: org.apache.spark.sql.DataFrame,
      maxIters: Int = 25) = {
    val (symSelf, sz) = Dedup.symmetricEdges(edges, "id_a", "id_b")
    Dedup.componentsByRounds(symSelf, sz, maxIters)
  }

  test("connectedComponents: maxIters trips instead of silent partial") {
    // the guard under test lives in the frame route's round loop,
    // which the driver route (union-find) never enters
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      componentsByRounds(edges, maxIters = 2)
    }
  }

  test("connectedComponents: driver and fixpoint routes agree") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong,
      rnd.nextInt(120).toLong)).toDF("id_a", "id_b")
    val viaDriver = componentsOnDriver(edges)
      .orderBy("id").collect().map(r => (r.get(0), r.get(1))).toSeq
    val viaRounds = componentsByRounds(edges)
      .orderBy("id").collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(viaDriver === viaRounds)
    // the operator itself admits this small graph to the driver route
    assert(Dedup.connectedComponents(edges, "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.get(0), r.get(1))).toSeq ===
      viaDriver)
  }

  test("connectedComponents: non-BMP string ids — routes agree on " +
      "Spark's UTF8 byte order") {
    // U+10000 (surrogate pair D800 DC00) vs U+E000: Java
    // String.compareTo (UTF-16 code-unit order) says U+10000 < U+E000,
    // Spark's UTF8String byte order (code-point order) says the
    // opposite — the exact divergence the driver route's min-id pick
    // must not introduce (ADVICE r17)
    val hi = new String(Character.toChars(0x10000)) // supplementary
    val pu = "\uE000"                               // private use, BMP
    assert(hi.compareTo(pu) < 0) // Java order would pick hi as min
    val edges = Seq((hi, pu), (pu, hi + "x")).toDF("id_a", "id_b")
    val viaDriver = componentsOnDriver(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val viaRounds = componentsByRounds(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(viaDriver === viaRounds)
    // and both label with the UTF8-order minimum, the BMP id
    assert(viaDriver.values.toSet === Set(pu))
  }

  test("topTokenCount: run-length fold equals groupBy count") {
    val df = Seq(
      "a b a c a b",   // a:3
      "x",             // x:1
      "",              // empty -> 0
      "t t t t"        // t:4
    ).toDF("text")
    val got = df.select(
      TextOps.topTokenCount(graft.functions.GraftFunctions.tokens(col("text"))))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 1L, 0L, 4L))
  }

  test("repetition stats: all-repeated doc vs all-distinct doc") {
    val df = Seq((1L, "a a a a a a"), (2L, "q w e r t y")).toDF("doc_id", "text")
    val r = TextOps.withRepetitionStats(df, col("text"))
      .select("doc_id", "dup_2gram_frac", "top_token_frac")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L) == ((5 - 1) / 5.0, 1.0))
    assert(r(2L) == ((0.0, 1 / 6.0)))
  }

  test("tfidf: corpus-unique term outranks ubiquitous term") {
    val df = Seq(
      (1L, "common rare common"),
      (2L, "common common zz"),
      (3L, "common only3")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(df, col("doc_id"), col("text"),
      nDocs = 3, k = 1)
      .select("doc_id", "term").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(top == Map(1L -> "rare", 2L -> "zz", 3L -> "only3"))
  }

  test("temperatureSample: flattens stratum shares toward sqrt weights") {
    // 900 'big' vs 100 'small': a 25% uniform sample keeps 9:1; with
    // alpha=0.5 the weights are 30:10, so the small stratum's keep
    // RATE must exceed the big one's
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1 to 100).map(i => (i.toLong + 1000, "small")))
      .toDF("id", "s")
    val rates = PipelineOps.temperatureSample(df, col("s"), col("id"),
      num = 1, den = 4)
      .groupBy("s").agg(count(lit(1)).as("n"), min("rate_ppm").as("ppm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val big = rates.find(_._1 == "big").get
    val small = rates.find(_._1 == "small").get
    // exact rates: target=250, w=(30,10), sw=40: big 250*30/(40*900)
    // = 208333 ppm, small 250*10/(40*100) = 625000 ppm
    assert(big._3 == 208333L && small._3 == 625000L)
    // sampled counts land near rate*n (hash is ~uniform)
    assert(math.abs(big._2 - 187L) < 60 && math.abs(small._2 - 62L) < 30)
  }

  test("discQuantiles: histogram selection matches hand-computed ranks") {
    // group a: values 1..10 once each — p50 is the 5th (=5), p90 the
    // 9th (=9), p99 the 10th (=10); group b: 99 ones and a single 100
    val rows = (1 to 10).map(v => ("a", v.toLong)) ++
      (1 to 99).map(_ => ("b", 1L)) :+ ("b", 100L)
    val df = rows.toDF("g", "v")
    val got = TextOps.discQuantiles(df, col("g"), col("v"),
      Seq(("50", 1, 2), ("90", 9, 10), ("99", 99, 100)))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((10L, 5L, 9L, 10L)))
    assert(got("b") == ((100L, 1L, 1L, 1L)))
  }

  test("weightedQuantiles: byte-weighted median crosses at the mass half") {
    // weights equal values: total mass 1+2+3+4 = 10, cum at v=3 is 6
    // >= 5 -> weighted median 3 (unweighted median of the rows is 2)
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L)).toDF("g", "v")
    val got = TextOps.weightedQuantiles(df, col("g"), col("v"), col("v"),
        Seq(("med", 1, 2)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 10L, 3L)))
    // weight 1 degrades to discQuantiles exactly
    val un = TextOps.weightedQuantiles(df, col("g"), col("v"), lit(1L),
        Seq(("med", 1, 2)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(un.toSeq == Seq(("a", 4L, 2L)))
  }

  test("nucleusSelect: keeps the minimal prefix crossing p, ties by id") {
    // source s: weights 50, 30, 20 (ids 1, 2, 3): p=3/4 -> 50+30=80
    // >= 75 reached AT row 2 ((cum-w)=50 < 75), row 3 cut (80 !< 75);
    // the boundary row that crosses is kept
    val df = Seq((1L, "s", 50L), (2L, "s", 30L), (3L, "s", 20L),
        (4L, "t", 5L), (5L, "t", 5L))
      .toDF("doc_id", "source", "w")
    val got = PipelineOps.nucleusSelect(df, col("source"), col("doc_id"),
        col("w"), num = 3, den = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // t: tie 5,5 -> id 4 first, (cum-w)=0 < 7.5 keeps it; id 5 has
    // (cum-w)=5 < 7.5 so the crossing row is also kept
    assert(got == Set(1L, 2L, 4L, 5L))
    // p = 1 keeps everything
    val all = PipelineOps.nucleusSelect(df, col("source"), col("doc_id"),
        col("w"), num = 1, den = 1)
      .count()
    assert(all == 5L)
  }

  test("epochPlan: repeats follow the recipe, zero drops, null defaults") {
    val df = (Seq(("a", "hot"), ("b", "warm"), ("c", "cold"),
      ("d", "unknown")) :+ (("e", null: String))).toDF("id", "q")
    val got = PipelineOps.epochPlan(df, col("q"),
        Map("hot" -> 3, "warm" -> 2, "cold" -> 0), defaultRepeat = 1)
      .select("id", "rep")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got == Map(
      "a" -> Seq(1L, 2L, 3L), // hot: 3 copies, rep 1..3
      "b" -> Seq(1L, 2L),
      // c (cold: 0) dropped entirely
      "d" -> Seq(1L), // unmapped bucket -> default
      "e" -> Seq(1L))) // null bucket -> default
  }

  test("kAnonymity: both verdicts independent, small combo flagged") {
    val df = Seq(
      // combo (x): 5 rows, 3 distinct sensitive -> passes both
      ("x", 1L), ("x", 1L), ("x", 2L), ("x", 3L), ("x", 3L),
      // combo (y): 5 rows but constant sensitive -> k ok, l fails
      ("y", 7L), ("y", 7L), ("y", 7L), ("y", 7L), ("y", 7L),
      // combo (z): 2 rows -> k fails
      ("z", 1L), ("z", 2L)).toDF("quasi", "sens")
    val got = PipelineOps.kAnonymity(df, Seq(col("quasi")), col("sens"),
        k = 5, l = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got("x") == ((5L, 3L, true, true)))
    assert(got("y") == ((5L, 1L, true, false)))
    assert(got("z") == ((2L, 2L, false, false)))
  }

  test("temperatureSample: a null stratum neither NPEs nor is sampled") {
    val df = (Seq(("x", 1L), ("x", 2L), ("x", 3L), ("x", 4L)) :+
      ((null: String, 99L))).toDF("s", "id")
    val out = PipelineOps.temperatureSample(df, col("s"), col("id"),
      num = 1, den = 1)
    // num=den keeps every non-null stratum at the 1e6 ppm clamp
    assert(out.collect().map(_.getLong(1)).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("topNgramsApprox: sampled df tracks exact df on a head term") {
    // 400 docs share one trigram: a 1-in-4 doc-id hash sample should
    // estimate df within ~3/sqrt(100) ≈ 30%; ranking (exact n) and the
    // emitted row set must match the exact variant
    val df = (1 to 400).map(i => (i.toLong, s"alpha beta gamma tail$i"))
      .toDF("doc_id", "text")
    val got = TextOps.topNgramsApprox(df, col("doc_id"), col("text"),
      w = 3, topK = 1, rate = 4).collect().head
    assert(got.getAs[String]("ngram") == "alpha beta gamma")
    assert(got.getAs[Long]("n") == 400L)
    val est = got.getAs[Long]("df_approx")
    assert(est >= 280L && est <= 520L, s"df_approx=$est far from 400")
  }

  test("temperatureSample: plan size is stratum-count-independent") {
    // the rate table is broadcast-joined, not folded into a when-chain,
    // so 4 strata and 200 strata must optimize to the same plan shape
    def planNodes(nStrata: Int): Int = {
      val df = (1 to 1000).map(i => (i.toLong, s"s${i % nStrata}"))
        .toDF("id", "s")
      val out = PipelineOps.temperatureSample(df, col("s"), col("id"),
        num = 1, den = 2)
      out.queryExecution.optimizedPlan.collect { case p => p }.size
    }
    assert(planNodes(4) == planNodes(200))
  }

  test("temperatureSample: non-string stratum buckets by one rendering") {
    // integer strata: the count, rate match, and hash key must all see
    // the same string cast — with EQUAL-size strata and num=den the
    // rate is exactly 1e6 ppm everywhere, so mis-bucketing (rate 0)
    // would drop whole strata
    val df = (1 to 21).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "s")
    val out = PipelineOps.temperatureSample(df, col("s"), col("id"),
      num = 1, den = 1)
    assert(out.count() == 21L)
    assert(out.select("rate_ppm").distinct().collect()
      .map(_.getLong(0)).toList == List(1000000L))
  }

  test("spanOverlapPairs: df cap drops boilerplate, minShared gates pairs") {
    import graft.functions.GraftFunctions.tokens
    // docs 1/2 share two rare trigrams ("a b c d" ⊃ {a b c, b c d});
    // doc 3 shares only ONE trigram with doc 1 (below minShared);
    // "x x x" appears in ALL docs (df 4 > cap 3) and must not pair
    val df = Seq(
      (1L, "a b c d x x x"),
      (2L, "a b c d p x x x"),
      (3L, "a b c q r s x x x"),
      (4L, "zz yy ww vv x x x")).toDF("doc_id", "text")
    val sets = df.select(col("doc_id"),
      graft.ops.Dedup.shingleHashes(tokens(col("text")), 3).as("hs"))
    val got = graft.ops.Dedup.spanOverlapPairs(sets, "doc_id", "hs",
      dfCap = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // 1↔2 share {a b c, b c d, c d x}? "c d x" in doc1="...c d x",
    // doc2 has "c d p" — so exactly {a b c, b c d} = 2 spans
    assert(got.head._3 == 2L)
  }

  test("splitAssign: growth never reassigns, exhaustive, cuts validated") {
    def assign(n: Int) = PipelineOps.splitAssign(
      (1 to n).map(_.toLong).toDF("id"), col("id"),
      Seq("tr" -> 90, "va" -> 5, "te" -> 5))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (a, b) = (assign(300), assign(600))
    assert((1L to 300L).forall(i => a(i) == b(i)), "growth reassigned a row")
    assert(a.values.toSet.subsetOf(Set("tr", "va", "te")))
    intercept[IllegalArgumentException] {
      PipelineOps.splitAssign(Seq(1L).toDF("id"), col("id"), Seq("x" -> 50))
    }
  }

  test("mixtureSample: rates follow the token recipe; unlisted strata drop") {
    // strata a/b with token masses 1000/500; shares 1:1, budget 600 →
    // per-stratum token target 300 → rate_a = 300k ppm, rate_b = 600k
    // ppm; stratum c is not in the recipe and must vanish
    val df = ((1 to 100).map(i => (i.toLong, "a", 10L)) ++
      (1 to 50).map(i => (i.toLong + 200, "b", 10L)) ++
      (1 to 30).map(i => (i.toLong + 400, "c", 10L)))
      .toDF("id", "s", "nt")
    val out = PipelineOps.mixtureSample(df, col("s"), col("id"), col("nt"),
      shares = Map("a" -> 1L, "b" -> 1L), budgetTokens = 600L)
    val rates = out.groupBy("s").agg(min("rate_ppm").as("r"), count(lit(1)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rates.keySet == Set("a", "b"))
    assert(rates("a") == 300000L && rates("b") == 600000L)
  }

  test("chunk: stride boundaries, short tail, empty doc") {
    val df = Seq(
      (1L, (1 to 24).map(i => s"t$i").mkString(" ")), // exactly one stride
      (2L, (1 to 25).map(i => s"t$i").mkString(" ")), // 1-token tail chunk
      (3L, "")).toDF("doc_id", "text")
    val got = PipelineOps.chunk(df, col("text"), window = 32, stride = 24)
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 24L), (2L, 0L, 25L), (2L, 1L, 1L)))
  }

  test("dropFrequentChunks: boilerplate cut everywhere, docs preserved") {
    // chunk window 2, cap df<=2. "aa bb" appears in docs 1,2,3 (df=3 →
    // dropped); "cc dd" in docs 1,2 (df=2 → kept); doc 4 is empty;
    // doc 5 is ALL boilerplate and must survive with empty text.
    val docs = Seq(
      (1L, "aa bb cc dd xx yy"),
      (2L, "cc dd aa bb"),
      (3L, "aa bb zz"),
      (4L, ""),
      (5L, "aa bb")).toDF("doc_id", "text")
    val got = Dedup.dropFrequentChunks(docs, col("doc_id"), col("text"),
        window = 2, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 1L, "cc dd xx yy"))) // order preserved
    assert(got(2L) === ((2L, 1L, "cc dd")))
    // "zz" is doc 3's short tail chunk, unique → kept
    assert(got(3L) === ((2L, 1L, "zz")))
    assert(got(4L) === ((0L, 0L, "")))     // empty doc: zero chunks
    assert(got(5L) === ((1L, 1L, "")))     // fully boilerplate
  }

  test("unigramSurprisal: hand-priced corpus, rare tokens cost more") {
    val docs = Seq(
      (1L, "a a b"), // common tokens
      (2L, "b"),
      (3L, "z"), // the rare token
      (4L, "")).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(docs, col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // total 5 tokens: a=2, b=2, z=1
    val costA = math.round(-math.log(2.0 / 5.0) * 1e6)
    val costZ = math.round(-math.log(1.0 / 5.0) * 1e6)
    assert(got(1L) === ((3L, 2 * costA + costA, (3 * costA).toDouble / 3)))
    assert(got(2L) === ((1L, costA, costA.toDouble)))
    assert(got(3L) === ((1L, costZ, costZ.toDouble)))
    assert(got(4L) === ((0L, 0L, 0.0))) // empty doc survives
    // the rare-token doc is the perplexity filter's casualty
    assert(got(3L)._3 > got(2L)._3)
  }

  test("resizeFit: plan math, never upscale, stub re-decodes to target") {
    import graft.ops.{ImageCodec, Multimodal}
    val ds = Seq(
      (1L, ImageCodec.pngHeader(1280, 960)), // exact halving
      (2L, ImageCodec.jpegHeader(320, 100)), // already fits: no upscale
      (3L, ImageCodec.pngHeader(2000, 100)), // width-bound
      (4L, Array[Byte](1, 2, 3))).toDS() // malformed
    val got = Multimodal.resizeFit(ds, maxW = 640L, maxH = 480L)
      .collect().map(r => r.doc_id -> r).toMap
    assert((got(1L).scale_ppm, got(1L).target_w, got(1L).target_h) ===
      ((500000L, 640L, 480L)))
    assert((got(2L).scale_ppm, got(2L).target_w, got(2L).target_h) ===
      ((1000000L, 320L, 100L)))
    assert((got(3L).scale_ppm, got(3L).target_w, got(3L).target_h) ===
      ((320000L, 640L, 32L)))
    assert(got(4L).format === "unknown" && got(4L).resized.isEmpty)
    // the stubbed transform's output re-decodes to the planned dims
    for (id <- Seq(1L, 2L, 3L)) {
      val m = ImageCodec.decodeMeta(got(id).resized).get
      assert((m.width.toLong, m.height.toLong) ===
        ((got(id).target_w, got(id).target_h)), s"payload $id")
    }
  }

  test("TableDiff: all four statuses, null-safe column compare") {
    import graft.ops.TableDiff
    val older = Seq(
      (1L, Some("a"), 10L), // unchanged
      (2L, Some("b"), 20L), // value changes
      (3L, None, 30L), // null -> non-null = changed
      (4L, Some("d"), 40L)) // removed
      .toDF("id", "v", "n")
    val newer = Seq(
      (1L, Some("a"), 10L),
      (2L, Some("B"), 21L), // both columns differ
      (3L, Some("c"), 30L),
      (5L, Some("e"), 50L)) // added
      .toDF("id", "v", "n")
    val got = TableDiff.diff(older, newer, Seq("id"), Seq("v", "n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[String](2))))
      .toMap
    assert(got(1L) === (("unchanged", Seq.empty)))
    assert(got(2L) === (("changed", Seq("v", "n"))))
    assert(got(3L) === (("changed", Seq("v")))) // null vs "c"
    assert(got(4L) === (("removed", Seq.empty)))
    assert(got(5L) === (("added", Seq.empty)))
  }

  test("weightedSample: matches local A-ES, biases to weight, stable") {
    import graft.functions.GraftFunctions
    val rows = (0L until 400L).map(i =>
      (i, if (i < 200) 1.0 else 50.0)) // ids 200+ carry 50x weight
    val df = rows.toDF("id", "w")
    val k = 40
    val got = PipelineOps.weightedSample(df, col("id"), col("w"), k)
      .select("id").collect().map(_.getLong(0)).toSet
    // local replay of the same priorities via the production twins
    def pri(id: Long, w: Double): Double = {
      val h = GraftFunctions.sampleHashLocal(id.toString)
      math.log((h + 1.0) / (GraftFunctions.PhMod + 1.0)) / w
    }
    val local = rows.sortBy { case (i, w) => (-pri(i, w), i) }
      .take(k).map(_._1).toSet
    assert(got === local)
    // the 50x-weight half dominates the sample
    assert(got.count(_ >= 200L) > k * 3 / 4,
      s"heavy half got ${got.count(_ >= 200L)}/$k slots")
    // partition-layout independence
    val got2 = PipelineOps.weightedSample(df.repartition(13),
      col("id"), col("w"), k).select("id").collect().map(_.getLong(0)).toSet
    assert(got2 === got)
    // zero/null weights are unsampleable
    val withZero = (rows :+ ((999L, 0.0))).toDF("id", "w")
    assert(!PipelineOps.weightedSample(withZero, col("id"), col("w"), 400)
      .select("id").collect().map(_.getLong(0)).contains(999L))
  }

  test("weightedSamplePerStratum: local replay per stratum, k bound") {
    import graft.functions.GraftFunctions
    val rows = (0L until 300L).map(i =>
      (s"s${i % 3}", i, (i % 9 + 1).toDouble))
    val df = rows.toDF("src", "id", "w")
    val k = 7
    val got = PipelineOps.weightedSamplePerStratum(df, col("src"),
        col("id"), col("w"), k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    def pri(id: Long, w: Double): Long = {
      val h = GraftFunctions.sampleHashLocal(id.toString)
      math.round(math.log((h + 1.0) / (GraftFunctions.PhMod + 1.0)) /
        w * 1e12)
    }
    val expect = rows.groupBy(_._1).view.mapValues(_.
      sortBy { case (_, i, w) => (-pri(i, w), i) }.take(k).map(_._2).toSeq)
      .toMap
    assert(got.keySet === Set("s0", "s1", "s2"))
    got.foreach { case (s, ids) =>
      assert(ids.length === k)
      assert(ids === expect(s), s"stratum $s")
    }
  }

  test("incrementalNearDup: verdicts batch-vs-corpus only, min match id") {
    // identical sets guarantee identical signatures → a band hit; the
    // [100,101] vs [100,101,102] pair fails the size prefilter at 0.95
    val corpus = Seq(
      (2L, Seq(1L, 2L, 3L, 4L)),
      (4L, Seq(1L, 2L, 3L, 4L)),
      (6L, Seq(100L, 101L))).toDF("doc_id", "hs")
    val incoming = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),   // dups corpus 2 AND 4 → dup_of = 2
      (3L, Seq(50L, 60L)),         // no corpus relative
      (5L, Seq(100L, 101L, 102L)), // jac 2/3 with corpus 6 — below 0.95
      (7L, Seq(7L, 8L, 9L)),       // dups ANOTHER INCOMING doc only —
      (9L, Seq(7L, 8L, 9L)))       //   must NOT be reported
      .toDF("doc_id", "hs")
    val got = Dedup.incrementalNearDup(corpus, incoming, "doc_id", "hs",
      k = 16, rowsPerBand = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("incrementalNearDup equals the pair detector restricted to the split") {
    // same banding on both framings ⇒ EXACT agreement, including which
    // candidates the bands recall. Random sets with planted near-copies
    // (identical or one-element-dropped) generate real pairs.
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 30).map { i =>
        (i.toLong, (0 until 30 + rnd.nextInt(20))
          .map(_ => rnd.nextInt(2000).toLong).distinct.sorted)
      }
      val copies = (0 until 12).map { j =>
        val (src, hs) = base(rnd.nextInt(base.size))
        val mut = if (j % 3 == 0) hs.drop(1) else hs
        (100L + j, mut)
      }
      val all = (base ++ copies).toDF("doc_id", "hs")
      val corpus = all.filter(col("doc_id") % 2 === 0)
      val incoming = all.filter(col("doc_id") % 2 === 1)
      val got = Dedup.incrementalNearDup(corpus, incoming, "doc_id", "hs",
        k = 16, rowsPerBand = 8, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "hs",
        k = 16, rowsPerBand = 8, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expected = pairs
        .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
        .filter { case (i, c, _) => i % 2 == 1 && c % 2 == 0 }
        .groupBy(_._1)
        .map { case (i, ms) =>
          (i, ms.map(_._2).min, ms.map(_._3).max) }
        .toSet
      assert(got == expected, s"seed $seed")
    }
  }

  test("boilerplateCoverage: df gate, zero-boiler doc, short-doc null") {
    val df = Seq(
      (1L, "the quick brown fox"),   // shingles: {the quick brown, quick brown fox}
      (2L, "the quick brown cat"),   // shares "the quick brown" → df 2
      (3L, "totally different words here"),
      (4L, "one two")                // < 3 tokens → no shingles
    ).toDF("doc_id", "text")
    val got = TextOps.boilerplateCoverage(df, col("doc_id"), col("text"),
      w = 3, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got(0) == ((1L, 2L, 1L, Some(0.5))))
    assert(got(1) == ((2L, 2L, 1L, Some(0.5))))
    assert(got(2) == ((3L, 2L, 0L, Some(0.0))))
    assert(got(3) == ((4L, 0L, 0L, None)))
  }

  test("decontaminateBloom == decontaminate, and both verdicts non-vacuous") {
    // eval doc 0 plants the 2-shingle "alpha beta"; docs 1-2 carry it
    // (contaminated), 3-4 do not; a second eval doc 5 shares nothing
    val rnd = new scala.util.Random(99)
    def noise(n: Int) = Seq.fill(n)(rnd.alphanumeric.take(5).mkString.toLowerCase).mkString(" ")
    val df = (Seq(
      (0L, true, "alpha beta gamma delta"),
      (1L, false, s"${noise(4)} alpha beta ${noise(3)}"),
      (2L, false, s"alpha beta ${noise(6)}"),
      (3L, false, s"beta alpha ${noise(6)}"), // reversed — NOT the shingle
      (4L, false, noise(8)),
      (5L, true, noise(8))
    ) ++ (6L to 40L).map(i => (i, false, noise(10)))).toDF("doc_id", "is_eval", "text")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy("__id").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val exact = run(PipelineOps.decontaminate(
      df, col("doc_id"), col("text"), col("is_eval"), w = 2))
    val bloomed = run(PipelineOps.decontaminateBloom(
      df, col("doc_id"), col("text"), col("is_eval"), w = 2))
    assert(bloomed == exact)
    val verdict = exact.toMap
    assert(verdict(1L) && verdict(2L) && !verdict(3L) && !verdict(4L))
    assert(!verdict.contains(0L) && !verdict.contains(5L)) // eval rows excluded
    // empty eval set: the bloom path must not NPE (the stat.bloomFilter
    // failure mode) and must agree with the exact plan: all false
    val noEval = run(PipelineOps.decontaminateBloom(
      df, col("doc_id"), col("text"), lit(false), w = 2))
    assert(noEval == run(PipelineOps.decontaminate(
      df, col("doc_id"), col("text"), lit(false), w = 2)))
    assert(noEval.forall(!_._2) && noEval.size == 41)
  }

  test("bestMatchPerDoc: symmetrized, max score wins, ties to larger id") {
    val pairs = Seq(
      (1L, 2L, 0.9), // 1's and 2's best
      (1L, 3L, 0.5),
      (3L, 4L, 0.5), // ties 3 between partners 1 and 4 -> larger id 4
      (5L, 6L, 0.4)  // isolated pair
    ).toDF("id_a", "id_b", "jac")
    val got = Dedup.bestMatchPerDoc(pairs, "id_a", "id_b", "jac")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(
      1L -> ((2L, 0.9)), 2L -> ((1L, 0.9)),
      3L -> ((4L, 0.5)), 4L -> ((3L, 0.5)),
      5L -> ((6L, 0.4)), 6L -> ((5L, 0.4))))
  }

  test("kmeans: separable clusters are recovered from a skewed seed") {
    // two tight blobs on opposite axes; the seed misassigns a third of
    // blob B into blob A's cell (an exactly-even split would park
    // Lloyd on the symmetric saddle — identical centroids — which no
    // k-means escapes deterministically)
    val vecs = ((0 until 20).map(i =>
      (i.toLong, Array(1000L + i, 0L, 0L))) ++
      (0 until 20).map(i => (20L + i, Array(0L, 1000L + i, 0L))))
      .toDF("id", "vec")
      .withColumn("cell", when(col("id") < 27, 0L).otherwise(1L))
    val out = Similarity.kmeans(vecs, iters = 3)
      .select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val blobA = out.filter(_._1 < 20).map(_._2).toSet
    val blobB = out.filter(_._1 >= 20).map(_._2).toSet
    assert(blobA.size == 1 && blobB.size == 1 && blobA != blobB)
  }

  test("shuffleShards: deterministic, balanced, contiguous positions") {
    val docs = (0L until 800L).toDF("doc_id")
    def run() = PipelineOps.shuffleShards(docs, col("doc_id"),
        seed = 7L, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val a = run()
    assert(a.toSeq == run().toSeq, "same seed must reproduce the order")
    // different seed actually reshuffles
    val b = PipelineOps.shuffleShards(docs, col("doc_id"), seed = 8L,
        nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(a.map(t => (t._1, t._2)).toSet != b.map(t => (t._1, t._2)).toSet)
    // shards are roughly balanced (uniform hash: 100 +/- 50 at n=800)
    val sizes = a.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size == 8 && sizes.values.forall(s => s > 50 && s < 150),
      s"unbalanced shards: ${sizes.toMap}")
    // positions are contiguous 1..size within every shard
    a.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $sh positions not contiguous")
    }
  }

  test("hardNegatives: only cross-label candidates, ranked by similarity") {
    // label 0 along +x, label 1 along +y with one 45-degree "hard"
    // vector that must rank first for the +x anchor
    val vecs = Seq(
      (0L, Seq(1000L, 0L), 0L),   // anchor
      (1L, Seq(999L, 10L), 0L),   // same label: excluded however close
      (2L, Seq(0L, 1000L), 1L),   // orthogonal negative
      (3L, Seq(700L, 700L), 1L),  // the hard negative
      (4L, Seq(-1000L, 5L), 1L)   // opposite
    ).toDF("id", "vec", "label")
    val got = Similarity.hardNegatives(vecs.filter(col("id") === 0L),
        vecs, k = 2)
      .collect().map(r => (r.getInt(4), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, 3L, 1L), (2, 2L, 1L)),
      got.mkString(","))
  }

  test("keepBestInComponent: argmax score, tie to min id, singletons keep") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L),
      (20L, 1L)).toDF("doc_id", "sc")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "comp")
    val got = Dedup.keepBestInComponent(docs, col("doc_id"), col("sc"), comp)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // comp 1: scores (5,9,9) -> tie between 2 and 3 -> min id 2 keeps
    // comp 10: tie (4,4) -> 10 keeps; 20 is an unlabeled singleton
    assert(got == Map(1L -> false, 2L -> true, 3L -> false,
      10L -> true, 11L -> false, 20L -> true))
  }

  test("naiveBayesLogOdds: closed-form values, unlabeled scoring, empty doc") {
    // training counts: aa -> (c+=2, c-=0), bb -> (c+=0, c-=1);
    // T+=2, T-=1, V=2, priors 1:1 =>
    //   llr(aa) = ln(3/4)-ln(1/3) = ln(2.25)  -> 810930 micro-nats
    //   llr(bb) = ln(1/4)-ln(2/3) = ln(0.375) -> -980829
    // docs 3 and 4 are UNLABELED: scored, never trained on
    val docs = Seq(
      (1L, "aa aa", Some(true)),
      (2L, "bb", Some(false)),
      (3L, "aa bb", None: Option[Boolean]),
      (4L, "!!!", None: Option[Boolean])).toDF("id", "text", "pos")
    val got = TextOps.naiveBayesLogOdds(docs, col("id"), col("text"),
        col("pos"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got == Map(
      1L -> (2L, 1621860L, 1621860L, true),
      2L -> (1L, -980829L, -980829L, false),
      3L -> (2L, -169899L, -169899L, false),
      4L -> (0L, 0L, 0L, false)))
  }

  test("naiveBayesLogOdds: class prior shifts every score") {
    // 2 positive docs vs 1 negative, no shared-token signal for 'cc':
    // its doc score = prior = ln(2) -> 693147 micro-nats, predicted true
    val docs = Seq(
      (1L, "aa", Some(true)), (2L, "aa", Some(true)),
      (3L, "bb", Some(false)),
      (4L, "cc", None: Option[Boolean])).toDF("id", "text", "pos")
    val got = TextOps.naiveBayesLogOdds(docs, col("id"), col("text"),
        col("pos"))
      .filter(col("id") === 4L).collect().head
    // llr(cc) = ln((0+1)/(2+3)) - ln((0+1)/(1+3)) = ln(4/5) -> -223144
    assert(got.getLong(2) == -223144L)
    assert(got.getLong(3) == 693147L - 223144L)
    assert(got.getBoolean(4))
  }

  test("TextOps vocabulary aggregates leave no cache entry behind") {
    val docs = Seq((1L, "aa bb aa", Some(true)), (2L, "bb cc", Some(false)),
      (3L, "", None: Option[Boolean])).toDF("id", "text", "pos")
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    assert(cache.isEmpty)
    TextOps.unigramSurprisal(docs, col("id"), col("text")).collect()
    assert(cache.isEmpty, "unigramSurprisal pinned a cache entry")
    TextOps.bigramSurprisal(docs, col("id"), col("text")).collect()
    assert(cache.isEmpty, "bigramSurprisal pinned a cache entry")
    TextOps.naiveBayesLogOdds(docs, col("id"), col("text"), col("pos"))
      .collect()
    assert(cache.isEmpty, "naiveBayesLogOdds pinned a cache entry")
  }

  test("chunkLayout: offsets, boundary crossing, zero-token docs, stats") {
    import graft.ops.PipelineOps
    import org.apache.spark.sql.functions.{col, lit}
    // one shard, seqLen 10: docs of 4, 0, 7, 10, 1 tokens in id order
    // stream offsets: 0, 4, 4, 11, 21 — doc 3 spans [4,10] (crosses),
    // doc 4 spans [11,20] exactly (sequence 1..2? 11//10=1, 20//10=2:
    // crosses), doc 5 sits at 21 (seq 2)
    val docs = Seq((1L, 4L), (2L, 0L), (3L, 7L), (4L, 10L), (5L, 1L))
      .toDF("id", "nt")
    val got = PipelineOps.chunkLayout(docs, col("id"), col("nt"),
        lit(0L), seqLen = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(got(1L) == ((0L, 0L, 0L, false)))
    assert(got(2L) == ((4L, 0L, 0L, false))) // empty doc: no crossing
    assert(got(3L) == ((4L, 0L, 1L, true)))
    assert(got(4L) == ((11L, 1L, 2L, true)))
    assert(got(5L) == ((21L, 2L, 2L, false)))
    val st = PipelineOps.chunkLayoutStats(
      PipelineOps.chunkLayout(docs, col("id"), col("nt"), lit(0L), 10L),
      seqLen = 10L).collect().head
    // 22 tokens -> ceil(22/10)=3 seqs, fill = 22e6 div 30 = 733333
    assert(st.getLong(1) == 5L && st.getLong(2) == 22L)
    assert(st.getLong(3) == 3L && st.getLong(4) == 733333L)
    assert(st.getLong(5) == 2L)
  }

  test("chunkLayout: shards lay out independently and in parallel") {
    import graft.ops.PipelineOps
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = (1L to 100L).map(i => (i, i % 5L)).toDF("id", "nt")
    val got = PipelineOps.chunkLayout(docs, col("id"), col("nt"),
        pmod(col("id"), lit(4L)), seqLen = 7L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSeq
    // per shard, start_tok is the prefix sum of earlier docs' nt in
    // id order — the scala fold is the reference
    (0L until 4L).foreach { sh =>
      var cum = 0L
      (1L to 100L).filter(_ % 4L == sh).foreach { id =>
        val (_, nt, start) =
          got.find(_._1 == id).getOrElse(fail(s"missing id $id"))
        assert(start == cum, s"id=$id")
        cum += nt
      }
    }
  }

  test("chunkLayout refuses a duplicate (shard, id) pair loudly") {
    import graft.ops.PipelineOps
    import org.apache.spark.sql.functions.{col, lit}
    // duplicate id 2 in one shard: the prefix sum's tie order would
    // be nondeterministic — the determinism contract demands a loud
    // failure, not a run-dependent layout
    val docs = Seq((1L, 4L), (2L, 3L), (2L, 9L), (3L, 1L)).toDF("id", "nt")
    val e = intercept[Exception] {
      PipelineOps.chunkLayout(docs, col("id"), col("nt"), lit(0L), 10L)
        .collect()
    }
    assert(e.getMessage.contains("unique per shard"))
    // the same ids on DIFFERENT shards are fine
    val ok = PipelineOps.chunkLayout(
      Seq((1L, 4L, 0L), (2L, 3L, 0L), (2L, 9L, 1L)).toDF("id", "nt", "sh"),
      col("id"), col("nt"), col("sh"), 10L).collect()
    assert(ok.length == 3)
  }
}
