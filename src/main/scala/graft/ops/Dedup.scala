package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is one hash-shuffle; MinHash-LSH turns the
  * O(n²) pair problem into a shuffle on band keys (only docs sharing a
  * band meet), and SimHash gives a 32/64-bit sketch joinable on
  * rotated prefixes. None of them ever materialize the full cross
  * product.
  */
object Dedup {

  /** Exact dedup: group on a content hash; the canonical row is the
    * min id. Adds `content_hash` and `is_canonical`.
    */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df.withColumn("content_hash", md5(text))
      .withColumn("is_canonical", id === min(id).over(w))
  }

  /** Sub-document duplicate removal — the "duplicated paragraph"
    * pass of web-corpus pipelines (boilerplate headers, navigation,
    * license blurbs repeated across documents) adapted to token-window
    * granularity, since this corpus is single-line text. Documents are
    * cut into NON-overlapping `window`-token chunks; a chunk whose
    * corpus-wide document frequency exceeds `maxDocFreq` is dropped
    * from every document, and each document is reassembled from its
    * surviving chunks in order. All input documents are preserved
    * (a fully-boilerplate document comes back with empty text).
    *
    * Returns (id, n_chunks, n_dropped, clean_text).
    *
    * Scale shape: one explode (no shuffle), one chunk-key aggregation
    * for document frequencies, a join back on the same key (the
    * frequency side is post-aggregation — one row per distinct chunk,
    * so even a corpus-dominating boilerplate chunk contributes a
    * single build row and AQE's skew split handles the probe side),
    * and one reassembly aggregation on the doc id. Chunks join on
    * their full text here so the SQL twin is exact; a production
    * deployment at 100 TB would key the frequency join on a 128-bit
    * content hash to cut shuffle bytes (same plan shape).
    */
  def dropFrequentChunks(df: DataFrame, id: Column, text: Column,
      window: Int, maxDocFreq: Long): DataFrame = {
    require(window > 0 && maxDocFreq >= 1,
      "need window > 0 and maxDocFreq >= 1")
    val docs = df.select(id.as("__id"), text.as("__text"))
    val chunks = PipelineOps.chunk(docs, col("__text"),
        window = window, stride = window)
      .select(col("__id"), col("chunk_id"), col("chunk_text"))
    val freq = chunks.groupBy("chunk_text")
      .agg(countDistinct(col("__id")).as("__df"))
    val perDoc = chunks.join(freq, Seq("chunk_text"))
      .withColumn("__drop", col("__df") > maxDocFreq)
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        // when() yields null for dropped chunks; collect_list skips
        // nulls, so the sort+transform sees only survivors, in order
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("chunk_id"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("clean_text"))
    docs.select(col("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Distinct SORTED shingle-hash set of a token array (the MinHash
    * input and the exact-Jaccard verification domain — hashing once
    * and merge-intersecting sorted longs beats re-intersecting
    * strings).
    */
  def shingleHashes(toks: Column, w: Int): Column =
    array_sort(array_distinct(transform(array_distinct(wordShingles(toks, w)),
      s => portableHash(s))))

  /** The w=1 case of [[shingleHashes]] over raw text, fused into one
    * native pass (tokenize+hash+distinct+sort): equals
    * shingleHashes(tokens(text), 1) exactly (property-tested), an
    * order of magnitude cheaper — the HOF form pays interpreted
    * lambda dispatch per token.
    */
  def tokenHashSet(text: Column): Column =
    graft.functions.NativeExpressions.tokenHashSet(text)

  /** MinHash signature columns sig_0..sig_{k-1} from a pre-hashed
    * shingle set column. Uses the portable hash so signatures are
    * engine-reproducible; swap for `xxhash64` when the values never
    * leave Spark.
    */
  def minhashFromHashes(df: DataFrame, hashes: Column, k: Int): DataFrame = {
    // one native pass computes all k signatures; a null vector (empty
    // set) degrades to k null signatures exactly like the HOF form
    val withV = df.withColumn("__sigv",
      graft.functions.NativeExpressions.minhashSigsNative(hashes, k))
    (0 until k).foldLeft(withV) { (d, j) =>
      d.withColumn(s"sig_$j", col("__sigv").getItem(j))
    }.drop("__sigv")
  }

  /** HOF formulation of [[minhashFromHashes]] (equivalence testing). */
  def minhashFromHashesHof(df: DataFrame, hashes: Column, k: Int): DataFrame =
    (0 until k).foldLeft(df) { (d, j) =>
      d.withColumn(s"sig_$j",
        array_min(transform(hashes, h => minhashPerm(h, j))))
    }

  /** MinHash signatures over the distinct word w-shingles of `toks`. */
  def minhashSignatures(df: DataFrame, toks: Column, w: Int, k: Int): DataFrame =
    minhashFromHashes(df.withColumn("__sh", shingleHashes(toks, w)),
      col("__sh"), k).drop("__sh")

  /** LSH candidate pairs: docs sharing any band of `rowsPerBand`
    * consecutive signature values. Returns (id_a, id_b) with a < b,
    * distinct. The join key is the band hash — this is the shuffle key
    * at scale, so no cross product ever forms.
    */
  /** Explode each row into its band keys in ONE projection — the
    * unioned-branches form re-scanned the input and re-derived the
    * signature pipeline once per band (subexpression elimination keeps
    * the signature evaluation shared across the array elements).
    */
  private def bandKeyExplode(k: Int, rowsPerBand: Int): Column =
    explode(array((0 until k / rowsPerBand).map { b =>
      concat_ws(":",
        (lit(b) +: (0 until rowsPerBand).map(r =>
          col(s"sig_${b * rowsPerBand + r}"))): _*)
    }: _*))

  def lshCandidates(sigs: DataFrame, id: String, k: Int, rowsPerBand: Int,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val bands = sigs.select(col(id).as("__id"),
      bandKeyExplode(k, rowsPerBand).as("band_key"))
    bandedPairs(bands, Nil, bucketCap)
      .select("id_a", "id_b").distinct()
  }

  /** Exact within-bucket all-pairs of a `(__id, band_key, payload…)`
    * frame: the band-key self-join every LSH family reduces to. Kept
    * as the shared primitive so the skew guard below wraps ALL of
    * lshCandidates / minhashNearDupPairs / simhashPairs identically.
    * Payload columns come back suffixed `_a` / `_b`.
    */
  private def bucketSelfJoin(bands: DataFrame, payload: Seq[String]): DataFrame = {
    val a = bands.select(col("band_key") +: col("__id").as("id_a") +:
      payload.map(p => col(p).as(p + "_a")): _*)
    val b = bands.select(col("band_key") +: col("__id").as("id_b") +:
      payload.map(p => col(p).as(p + "_b")): _*)
    a.join(b, Seq("band_key")).filter(col("id_a") < col("id_b"))
  }

  /** Band-bucket SKEW GUARD. The band-key self-join is a shuffle on a
    * key whose cardinality collapses under boilerplate: m identical
    * documents land in ONE bucket and the join emits m²/2 rows — the
    * classic quadratic blowup banding alone does not prevent (a 10⁶-doc
    * bucket at 100 TB is 10¹² join rows in one task). Guard: buckets at
    * or under `cap` keep the exact all-pairs join; heavier buckets
    * collapse to a STAR around the bucket's min-id hub — every member
    * pairs with the hub only, O(m) rows instead of O(m²) — and the star
    * edges still flow through the caller's EXACT verifier, so nothing
    * unverified is ever emitted. The pair LIST over a heavy bucket is
    * intentionally sparser (that quadratic list is itself the scale
    * bug), but hub edges keep every verified member CONNECTED to the
    * hub, so component labels, canonical/dup verdicts, and
    * cluster-best selection — the consumers of these pairs — are
    * preserved for the homogeneous clusters that create heavy buckets
    * (equivalence spec'd in DedupSkewSpec). Same df-cap idea as
    * [[spanOverlapPairs]], which bounds per-key fanout at dfCap².
    *
    * Plan shape: bucket size and hub come from ONE window over the
    * band_key exchange (no second scan of the signature pipeline, no
    * driver collect), and both join sides reuse that exchange. With
    * `cap = Int.MaxValue` (the default everywhere) the window is
    * skipped entirely and the plan is the historical exact one.
    */
  private def bandedPairs(bands: DataFrame, payload: Seq[String],
      cap: Int): DataFrame = {
    if (cap == Int.MaxValue) bucketSelfJoin(bands, payload)
    else {
      require(cap > 1, "bucketCap must be > 1")
      val w = Window.partitionBy(col("band_key"))
      val marked = bands
        .withColumn("__bn", count(lit(1)).over(w))
        .withColumn("__hub",
          min(struct(col("__id") +: payload.map(col): _*)).over(w))
      val light = bucketSelfJoin(
        marked.filter(col("__bn") <= cap)
          .select(col("__id") +: col("band_key") +: payload.map(col): _*),
        payload)
      // hub = min id of the bucket, so id_a < id_b holds by construction
      val heavy = marked.filter(col("__bn") > cap)
        .filter(col("__id") =!= col("__hub.__id"))
        .select(col("band_key") +: col("__hub.__id").as("id_a") +:
          col("__id").as("id_b") +:
          (payload.map(p => col(s"__hub.$p").as(p + "_a")) ++
            payload.map(p => col(p).as(p + "_b"))): _*)
      light.unionByName(heavy)
    }
  }

  /** Monitoring side output for the skew guard: the band buckets whose
    * size exceeds `cap` — `(band_key, bucket_n)`. A production run logs
    * or sinks this so heavy boilerplate clusters are visible instead of
    * silently star-collapsed. `bands` is shaped like [[bandTable]]
    * output (any frame with a `band_key` column).
    */
  def heavyBandBuckets(bands: DataFrame, cap: Int): DataFrame =
    bands.groupBy("band_key").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)

  /** EXACT similarity-join candidate pairs by prefix filtering (the
    * AllPairs / SSJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07; Chaudhuri et al., ICDE'06).
    *
    * Order every set's tokens by a global rare-first total order
    * (document frequency, token as tiebreak). For Jaccard ≥ num/den a
    * pair must share at least α = ceil(t·|A|) tokens, so its globally
    * -smallest common token cannot sit in the last α-1 positions of
    * either set — it lives in BOTH prefixes of length |s| - α + 1.
    * Candidates are therefore exactly the pairs sharing a prefix
    * token, and the shuffle key is (block…, token): no block is ever
    * all-pairs, and rare-first ordering keeps posting lists short.
    * Unlike MinHash banding this generation has NO false negatives,
    * so downstream verification reproduces the exact all-pairs
    * answer.
    *
    * The threshold is a rational num/den so α is computed in integer
    * arithmetic — a float ceil(0.3·10) can land on 4 and silently
    * shorten the prefix below the sound length.
    *
    * `sets`: one row per item with a distinct-element array column.
    * Returns (id_a, id_b) distinct with id_a < id_b.
    */
  def prefixFilterCandidates(sets: DataFrame, id: String, setCol: String,
      blockCols: Seq[String], tNum: Int, tDen: Int): DataFrame = {
    val tokenDf = sets.select(explode(col(setCol)).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("df"))
    val exploded = sets.select(col(id).as("__id") +: blockCols.map(col) :+
      explode(col(setCol)).as("tk") :+ size(col(setCol)).as("sz"): _*)
    val w = Window.partitionBy(col("__id")).orderBy(col("df"), col("tk"))
    val prefix = exploded.join(tokenDf, "tk")
      .withColumn("rn", row_number().over(w))
      // α = ceil(tNum·sz / tDen) via (tNum·sz + tDen - 1) div tDen
      .withColumn("alpha",
        floor((col("sz") * tNum + lit(tDen - 1)) / tDen).cast("int"))
      .filter(col("rn") <= col("sz") - col("alpha") + 1)
    val a = prefix.select(blockCols.map(col) :+ col("tk") :+
      col("__id").as("id_a"): _*)
    val b = prefix.select(blockCols.map(col) :+ col("tk") :+
      col("__id").as("id_b"): _*)
    a.join(b, blockCols :+ "tk")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact substring-overlap pairs: documents sharing at least
    * `minShared` DISTINCT w-token spans — verbatim copying evidence
    * (the substring-dedup signal of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"), complementary to
    * the Jaccard/MinHash ESTIMATORS: a 30-token lift inside a long
    * document moves Jaccard barely but shares 30−w+1 exact spans.
    * The join key is the shingle hash itself — no banding needed —
    * and spans with document frequency above `dfCap` are dropped
    * first: corpus-wide boilerplate is not evidence one document
    * copies another, and the cap bounds per-key fanout (≤ dfCap²
    * pairs per span), so the pair join cannot go quadratic on a hot
    * span at any corpus size. Returns (id_a, id_b, n_shared) with
    * id_a < id_b.
    */
  def spanOverlapPairs(sets: DataFrame, id: String, hsCol: String,
      dfCap: Int, minShared: Int): DataFrame = {
    require(dfCap > 1 && minShared > 0, "need dfCap > 1, minShared > 0")
    val sh = sets.select(col(id).as("__id"), explode(col(hsCol)).as("__h"))
    // per-document shingle hashes are distinct, so the per-hash row
    // count IS document frequency
    val rare = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select("__h")
    val kept = sh.join(rare, Seq("__h"), "left_semi")
    val a = kept.select(col("__h"), col("__id").as("id_a"))
    val b = kept.select(col("__h"), col("__id").as("id_b"))
    a.join(b, Seq("__h")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** End-to-end MinHash near-dup pairs in a SINGLE pass over the
    * corpus: signatures and band keys are computed in the same
    * projection as the hash sets, and the sets ride along through the
    * band shuffle so verification needs no re-join against the corpus
    * (the old shape recomputed the tokenize+hash pipeline three times
    * — once for signatures and once per verification side — or
    * broadcast the whole doc→set table, which OOMs at billions of
    * docs). A pair agreeing on b bands verifies b times and the tiny
    * survivor set dedups at the end — verify is a linear merge, so
    * duplicate verification is far cheaper than a second corpus
    * shuffle. Returns (id_a, id_b, jac) with id_a < id_b, distinct.
    */
  def minhashNearDupPairs(sets: DataFrame, id: String, hsCol: String,
      k: Int, rowsPerBand: Int, threshold: Double,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    // empty sets have NULL signatures; concat_ws would collapse them
    // all into one shared bucket per band, going quadratic in the
    // count of empty documents. They can never reach a positive
    // jaccard, so dropping them up front is result-identical.
    val sigs = minhashFromHashes(
      sets.select(col(id).as("__id"), col(hsCol).as("__hs"))
        .filter(size(col("__hs")) > 0), col("__hs"), k)
    val bands = sigs.select(col("__id"), col("__hs"),
      bandKeyExplode(k, rowsPerBand).as("band_key"))
    bandedPairs(bands, Seq("__hs"), bucketCap)
      // size-ratio prefilter: jaccard ≤ min/max of the set sizes
      .filter(least(size(col("__hs_a")), size(col("__hs_b"))).cast("double") >=
        greatest(size(col("__hs_a")), size(col("__hs_b"))) * threshold)
      .withColumn("jac", jaccardSorted(col("__hs_a"), col("__hs_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
      .distinct()
  }

  /** Incremental near-dup gate: verdict each INCOMING document against
    * an existing CORPUS — the production ingest shape, where a new
    * crawl batch is deduplicated against the standing index without
    * ever recomputing corpus-internal pairs. Candidates are incoming ×
    * corpus docs sharing a MinHash band (identical banding to
    * [[minhashNearDupPairs]]); survivors verify with exact Jaccard on
    * the pre-hashed shingle sets riding through the band shuffle.
    *
    * Scale shape: the only data-sized shuffle key is the band key. At
    * 100 TB the corpus side is a PRECOMPUTED signature/band table
    * (written once, bucketed by band_key), so each batch costs one
    * pass over the batch plus a co-located probe — the corpus is never
    * rescanned — and a small batch side auto-broadcasts under AQE.
    *
    * Returns one row per incoming doc with a verified corpus match:
    * (`id`, dup_of = min matching corpus id, best_jac = max Jaccard).
    */
  def incrementalNearDup(corpusSets: DataFrame, incomingSets: DataFrame,
      id: String, hsCol: String, k: Int, rowsPerBand: Int,
      threshold: Double): DataFrame =
    incrementalNearDupBands(
      bandTable(corpusSets, id, hsCol, k, rowsPerBand),
      bandTable(incomingSets, id, hsCol, k, rowsPerBand), id, threshold)

  /** The persistable MinHash band table of a corpus: one row per
    * (doc, band) with the shingle-hash set riding along for exact
    * verification — `(id, hs, band_key)`. This is the state a
    * standing dedup index stores (written once, bucketed/partitioned
    * by `band_key` at scale) so incoming batches probe it without
    * ever recomputing corpus signatures. Empty sets are dropped: they
    * can never reach a positive Jaccard, and their NULL signatures
    * would otherwise collapse into one quadratic bucket per band.
    */
  def bandTable(sets: DataFrame, id: String, hsCol: String, k: Int,
      rowsPerBand: Int): DataFrame =
    minhashFromHashes(
      sets.select(col(id), col(hsCol).as("hs")).filter(size(col("hs")) > 0),
      col("hs"), k)
      .select(col(id), col("hs"), bandKeyExplode(k, rowsPerBand).as("band_key"))

  /** [[incrementalNearDup]] over PRE-BUILT band tables (both sides
    * shaped like [[bandTable]] output): the probe path a streaming
    * ingest gate runs per batch against its stored corpus index.
    *
    * `probeCap` is the probe-side analog of [[bandedPairs]]' skew
    * guard: a corpus band holding m rows fans EVERY incoming row in
    * that band across all m (one boilerplate band at 100 TB turns a
    * batch probe into a corpus scan). Bands at or under the cap keep
    * the exact probe; heavier bands are collapsed to their min-id
    * HUB row before the join — each incoming row compares against
    * the hub only (still exact-verified), so join fan-out per
    * incoming row is bounded by `probeCap` per light band + 1 per
    * heavy band. Trade, stated plainly: an incoming doc whose only
    * matching corpus partner is a NON-hub member of a heavy band is
    * admitted — the same homogeneous-cluster bet the pair guard
    * makes (heavy bands come from near-identical boilerplate, so the
    * hub represents the band). The cap applies per corpus source the
    * caller probes. Default keeps the historical exact plan.
    */
  def incrementalNearDupBands(corpusBands: DataFrame,
      incomingBands: DataFrame, id: String, threshold: Double,
      probeCap: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    val c0 = corpusBands.select(col("band_key"), col(id).as("id_c"),
      col("hs").as("h_c"))
    val c =
      if (probeCap == Int.MaxValue) c0
      else {
        require(probeCap >= 1, "probeCap must be >= 1")
        // one window over the corpus side's own partitioning (the
        // compacted base is band_key-bucketed, so no Exchange —
        // only its already-sorted order feeds the frame)
        val w = Window.partitionBy(col("band_key"))
        c0.withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__minId", min(col("id_c")).over(w))
          .filter(col("__bn") <= probeCap ||
            col("id_c") === col("__minId"))
          .drop("__bn", "__minId")
      }
    val i = incomingBands.select(col("band_key"), col(id).as("id_i"),
      col("hs").as("h_i"))
    i.join(c, Seq("band_key"))
      .filter(least(size(col("h_i")), size(col("h_c"))).cast("double") >=
        greatest(size(col("h_i")), size(col("h_c"))) * threshold)
      .withColumn("jac", jaccardSorted(col("h_i"), col("h_c")))
      .filter(col("jac") >= threshold)
      .groupBy(col("id_i"))
      .agg(min(col("id_c")).as("dup_of"), max(col("jac")).as("best_jac"))
      .withColumnRenamed("id_i", id)
  }

  /** Exact Jaccard similarity of two array columns (distinct element
    * sets).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    inter / nullif(union, lit(0.0d))
  }

  /** Exact Jaccard over SORTED distinct long arrays (e.g.
    * [[shingleHashes]] output): one native linear merge instead of two
    * hash-set materializations.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.NativeExpressions.sortedIntersectSize(a, b)
    inter.cast("double") /
      nullif((size(a) + size(b) - inter).cast("double"), lit(0.0d))
  }

  /** Best near-dup match per document from an undirected similarity
    * pair list (id_a, id_b, score with id_a < id_b): symmetrize so
    * each pair serves both endpoints, then ONE max_by aggregation
    * picks each doc's highest-scoring partner (ties broken by the
    * larger partner id — any deterministic rule works, this one is a
    * single struct max). This is the OUTPUT-LINEAR consumption of a
    * pair detector whose full pair list grows super-linearly with
    * duplicate density (the dominant sf1 bench cost is literally
    * emitting pairs): output is ≤ one row per matched document no
    * matter how dense the duplicate clusters get, and the aggregation
    * is map-side-combinable before its only shuffle.
    *
    * Symmetrization is a per-row explode, NOT a self-union: a union
    * of two selects evaluates the (expensive) pair-generation subtree
    * twice — measured 2× the pair query's cost at sf1 — while the
    * explode doubles rows in one pass over one evaluation.
    */
  def bestMatchPerDoc(pairs: DataFrame, idA: String, idB: String,
      score: String): DataFrame = {
    val sym = pairs.select(explode(array(
        struct(col(idA).as("doc_id"), col(idB).as("match_id"),
          col(score).as("__s")),
        struct(col(idB).as("doc_id"), col(idA).as("match_id"),
          col(score).as("__s")))).as("__e"))
      .select(col("__e.doc_id"), col("__e.match_id"), col("__e.__s"))
    sym.groupBy("doc_id")
      .agg(max(struct(col("__s"), col("match_id"))).as("__m"))
      .select(col("doc_id"), col("__m.match_id").as("match_id"),
        col("__m.__s").as(score))
  }

  /** 32-bit SimHash of a token array using the portable hash: bit i is
    * set when more tokens have bit i set than clear.
    */
  def simhash32(df: DataFrame, toks: Column): DataFrame = {
    val withH = df.withColumn("__th", transform(toks, t => portableHash(t)))
    val nTok = size(col("__th")).cast("long")
    val bits = (0 until 32).map { i =>
      val ones = aggregate(col("__th"), lit(0L),
        (acc, h) => acc + shiftright(h, i).bitwiseAND(1L))
      when(ones * 2L > nTok, lit(1L << i)).otherwise(lit(0L))
    }
    withH.withColumn("simhash", bits.reduce(_ + _)).drop("__th")
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two 128-bit hashes held as (hi, lo)
    * long pairs, as a long.
    */
  def hamming128(hiA: Column, loA: Column, hiB: Column,
      loB: Column): Column =
    (hamming(hiA, hiB) + hamming(loA, loB)).cast("long")

  /** SimHash near-dup pairs with hamming ≤ maxDist over 32-bit
    * fingerprints. Candidate generation by the pigeonhole principle:
    * split into `bands` equal bit-bands — any pair within distance
    * bands-1 must agree on at least one band, so the join key is
    * (band index, band bits) and no cross product forms. `sims`:
    * (id, simhash).
    */
  def simhashPairs(sims: DataFrame, id: String, bands: Int,
      bitsPerBand: Int, maxDist: Int,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(maxDist < bands, "pigeonhole needs maxDist < bands")
    val banded = (0 until bands).map { b =>
      sims.select(col(id).as("__id"), col("simhash"),
        concat_ws(":", lit(b),
          shiftright(col("simhash"), b * bitsPerBand)
            .bitwiseAND((1L << bitsPerBand) - 1L)).as("band_key"))
    }.reduce(_ unionByName _)
    bandedPairs(banded, Seq("simhash"), bucketCap)
      .select(col("id_a"), col("id_b"), col("simhash_a").as("sh_a"),
        col("simhash_b").as("sh_b")).distinct()
      .withColumn("dist", hamming(col("sh_a"), col("sh_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Connected components of an undirected edge set (near-duplicate
    * clustering: every document keeps the min doc id of its component
    * as the canonical representative) by min-label propagation to
    * fixpoint.
    *
    * Scale design: only vertices incident to an edge enter the loop —
    * isolated documents are trivially their own component and join
    * back at the end — so the iterated state is pair-set-sized, never
    * corpus-sized. Self-loops are folded into the persisted symmetric
    * edge list, which makes a round ONE label join + ONE vertex-keyed
    * min: the previous labels are referenced exactly once (a plan that
    * referenced them twice — self ∪ neighbors — doubled per round and
    * went exponential), the join side is broadcast while the driver
    * -tracked label count stays under `broadcastRows`, and each
    * round's result is re-planned over a LogicalRDD leaf so plans stay
    * constant-size across an unbounded loop. No compare join either:
    * convergence is read off a monotone checksum (labels only ever
    * decrease, so Σcomp — summed exactly as decimal(38,0) — strictly
    * falls until the fixpoint), piggybacked on the same job that
    * materializes the round's cache. Rounds converge in O(component
    * diameter), and dup clusters are shallow near-cliques. `maxIters`
    * (far above any real diameter) turns a pathological chain into a
    * hard error, never a silently-partial clustering. Returns
    * (id, comp) as the final round's PERSISTED frame, so long-lived
    * sessions can `result.unpersist()` after consuming it (returning
    * the loop's LogicalRDD wrapper instead would make that a no-op
    * and leak the cache for the session).
    */
  def connectedComponents(edges: DataFrame, idA: String, idB: String,
      maxIters: Int = 25, broadcastRows: Long = 4000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col(idA).as("src"), col(idB).as("dst"))
      .union(edges.select(col(idB).as("src"), col(idA).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val symSelf = sym
      .union(sym.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
    symSelf.persist()
    // the self-loop rows ARE the vertex set: initial labels ride the
    // same cache, and the materializing aggregation ALSO counts the
    // symmetric edge rows — the per-round shuffle width — so the
    // round loop's execution regime (FixpointExec) is gated by a
    // measured size, with no extra job. The same aggregation carries
    // the summed id bytes (strings only; fixed-width ids are priced
    // per row), so the driver-route gate below is BYTE-aware with no
    // extra job either.
    var labels: DataFrame = symSelf.filter(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("comp"))
    val idIsString = edges.schema(idA).dataType ==
      org.apache.spark.sql.types.StringType
    val idByteAgg =
      if (idIsString) sum(octet_length(col("src")) + octet_length(col("dst")))
      else sum(lit(16L))
    val szRow = symSelf.agg(count(lit(1)),
      count(when(col("src") === col("dst"), 1)), idByteAgg).head()
    val edgeRows = szRow.getLong(0)
    var labelRows = szRow.getLong(1)
    val idBytes = if (szRow.isNullAt(2)) 0L else szRow.getLong(2)

    // DRIVER ROUTE (the bradleyTerryAuto pattern): while the
    // symmetric edge set collects comfortably, run union-find on the
    // driver — one collect + O(E α(E)) replaces O(diameter) rounds of
    // join + aggregate + collect, each of which costs more in stage
    // scheduling and broadcast builds than the data (measured r17:
    // the round loop was 3–6 s of near-zero-CPU stages on pair sets
    // of a few thousand edges). The label semantics are identical —
    // comp = the component's minimum id — and the existing
    // union-find property spec pins the equivalence. Gated by BOTH
    // spark.graft.cc.driverMaxEdges (rows, default 2M; 0 disables the
    // route) AND spark.graft.cc.driverMaxBytes (default 256m; 0
    // disables the byte check): estBytes prices the collected
    // GenericRow batch — ~64 B of Row/object overhead per edge plus
    // ~4× the raw id bytes (UTF-16 chars + String headers) — so 2M
    // edges of long URLs no longer slip through a row-count-only
    // gate onto a small driver heap. A corpus-scale pair graph fails
    // both and stays on the frame-based fixpoint below.
    val driverMax =
      try spark.conf.get("spark.graft.cc.driverMaxEdges", "2000000").toLong
      catch { case _: NumberFormatException => 0L }
    val driverMaxBytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.graft.cc.driverMaxBytes", "256m"))
      catch { case _: NumberFormatException => 0L }
    val estBytes = edgeRows * 64L + 4L * idBytes
    if (driverMax > 0 && edgeRows <= driverMax &&
        (driverMaxBytes <= 0 || estBytes <= driverMaxBytes)) {
      val rows = symSelf.collect()
      symSelf.unpersist()
      val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
      val vals = new scala.collection.mutable.ArrayBuffer[Any]
      def of(v: Any): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue()
        else { idx.put(v, Integer.valueOf(vals.length)); vals += v
          vals.length - 1 }
      }
      val parent = new scala.collection.mutable.ArrayBuffer[Int]
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { r =>
        val a = of(r.get(0)); val b = of(r.get(1))
        while (parent.length < vals.length) parent += parent.length
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
      // min id per root. String ids MUST compare in Spark's
      // StringType order — UTF8String byte order, i.e. code-point
      // order — not Java String.compareTo (UTF-16 code-unit order):
      // the two disagree when supplementary-plane characters meet
      // U+E000..U+FFFF, and the frame route's min() would then pick a
      // different canonical representative (route-equivalence pinned
      // by the non-BMP case in CorpusOpsSpec). Other id types are
      // atomic Comparables with engine-identical order (Long/Int).
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a).compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      }
      val minOf = new java.util.HashMap[Int, Any]
      (0 until vals.length).foreach { i =>
        val r = find(i)
        val cur = minOf.get(r)
        if (cur == null || lt(vals(i), cur)) minOf.put(r, vals(i))
      }
      val dt = edges.schema(idA).dataType
      val outRows: Seq[org.apache.spark.sql.Row] =
        (0 until vals.length).map { i =>
          org.apache.spark.sql.Row(vals(i), minOf.get(find(i)))
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", dt),
        org.apache.spark.sql.types.StructField("comp", dt)))
      val out = DriverRoute.frameOf(spark, outRows, schema)
      out.persist()
      return out
    }
    var cached: DataFrame = null // the persisted round behind `labels`
    var it = 0
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    FixpointExec.withTinyRounds(spark, edgeRows) {
    while (!converged) {
      it += 1
      require(it <= maxIters,
        s"connectedComponents did not converge in $maxIters rounds")
      def bc(df: DataFrame): DataFrame =
        if (labelRows >= 0 && labelRows <= broadcastRows) broadcast(df)
        else df
      // 1-hop neighbor min, then compress through the previous round's
      // mapping (a label IS a vertex id, so L(m1(v)) is defined and
      // ≤ m1(v)): two hops of propagation per round — a diameter-10
      // chain converges in ~6 rounds instead of 11 — still as ONE job
      // with no extra materialization. At a stall L(v)=L(m1(v))≤m1(v)
      // ≤L(v) forces m1(v)=L(v), i.e. the plain-propagation fixpoint,
      // so compression cannot converge early.
      val m1 = symSelf
        .join(bc(labels.select(col("id").as("dst"), col("comp"))), "dst")
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("m1"))
      val next = m1
        .join(bc(labels.select(col("id").as("m1"), col("comp"))), "m1")
        .select(col("id"), col("comp"))
      next.persist()
      if (idIsString) {
        // a string label cannot ride the numeric checksum (ANSI cast
        // of a non-numeric id throws — latent until the r18 non-BMP
        // route test); convergence is instead the exact changed-label
        // count against the previous round, joined inside the same
        // materializing job (broadcast-gated like the round join)
        val stat = next
          .join(bc(labels.select(col("id"), col("comp").as("__prev"))),
            "id")
          .agg(sum(when(col("comp") =!= col("__prev"), 1L)
            .otherwise(0L)), count(lit(1)))
          .collect()(0)
        converged = stat.isNullAt(0) || stat.getLong(0) == 0L
        labelRows = stat.getLong(1)
      } else {
        val stat = next
          .agg(sum(col("comp").cast("decimal(38,0)")), count(lit(1)))
          .collect()(0)
        val sumNow = Option(stat.getDecimal(0))
        labelRows = stat.getLong(1)
        converged = prevSum == sumNow || sumNow.isEmpty
        prevSum = sumNow
      }
      if (cached != null) cached.unpersist()
      cached = next
      labels = spark.createDataFrame(next.rdd, next.schema)
    }
    }
    symSelf.unpersist()
    cached
  }

  /** Exact duplicated-SPAN detection — the substring-level dedup pass
    * of LLM training pipelines (after document-level near-dup, corpora
    * still carry verbatim repeated passages: licenses, boilerplate,
    * quoted text). Every `w`-token window is hashed positionally; a
    * window whose hash occurs more than once in the corpus (any doc,
    * including within-doc repeats) is a duplicated window, and
    * overlapping-or-adjacent duplicated windows merge into maximal
    * spans. Returns one row per maximal span:
    * (id, span_start (1-based token position), span_len_toks).
    *
    * Scale shape: positional windows explode off the scan (no
    * shuffle), ONE map-side-combined aggregation counts window-hash
    * occurrences, the >1 survivors join back on the hash key (the
    * count side is post-aggregation — one row per duplicated hash),
    * and the island merge is a per-document window function — each
    * document's hits sort locally, nothing corpus-sized concentrates.
    * Windows join on their 63-bit polynomial hash, not the string:
    * at 100 TB the shuffle carries 8 bytes per window instead of the
    * w-token text; a hash collision marks a window duplicated on both
    * engines identically (the twin replays the same hash), with
    * corpus-level false-positive odds ~ n²/2^63.
    *
    * Span-merge contract: windows [p, p+w) and [q, q+w) with p < q
    * merge when q <= p + w (overlap OR exact adjacency — adjacency
    * means the duplicated region continues with no gap, so the span
    * reads as one contiguous duplicated passage).
    */
  def dupSpans(df: DataFrame, id: Column, text: Column, w: Int): DataFrame = {
    require(w > 0, "need w > 0")
    val wins = windowHashes(df, id, text, w)
    val dup = wins.groupBy("h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select("h")
    val hits = wins.join(dup, "h").select(col("id"), col("s"))
    mergeWindowSpans(hits, w)
  }

  /** Positional `w`-token window hashes of every document:
    * (id, s (1-based token position), h (polynomial hash of the
    * window text)) — the shared front half of [[dupSpans]] and the
    * streaming span gate. Explodes off the scan, no shuffle. Hashing
    * rides the one-pass native expression (tokenize + rolling window
    * fold, no window string ever materialized); [[windowHashesHof]]
    * is the HOF reference formulation it is property-pinned equal to.
    */
  def windowHashes(df: DataFrame, id: Column, text: Column,
      w: Int): DataFrame =
    df.select(id.as("id"),
        graft.functions.NativeExpressions.windowHashes(text, w).as("__wh"))
      .select(col("id"), posexplode(col("__wh")))
      // posexplode is 0-based → +1
      .select(col("id"), (col("pos") + 1).as("s"), col("col").as("h"))

  /** The higher-order-function twin of the native window-hash pass
    * (portableHash over space-joined w-shingles) — the executable
    * spec the native expression is property-tested against.
    */
  def windowHashesHof(df: DataFrame, id: Column, text: Column,
      w: Int): DataFrame =
    df.select(id.as("id"), tokens(text).as("__toks"))
      .select(col("id"), posexplode(wordShingles(col("__toks"), w)))
      .select(col("id"), (col("pos") + 1).as("s"),
        portableHash(col("col")).as("h"))

  /** Merge duplicated-window hits `(id, s)` into maximal spans
    * (overlap-or-adjacency: a new island starts when s > running max
    * end, end = s + w) — the back half of [[dupSpans]], shared with
    * the streaming span gate so batch and stream agree on span
    * geometry by construction. Per-document window function: each
    * document's hits sort locally.
    */
  def mergeWindowSpans(hits: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("s")
    hits
      .withColumn("__pme", max(col("s") + w)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pme").isNull || col("s") > col("__pme"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + w - min(col("s"))).as("span_len_toks"))
      .select(col("id"),
        col("span_start").cast("long").as("span_start"),
        col("span_len_toks").cast("long").as("span_len_toks"))
  }

  /** Per-document roll-up of [[dupSpans]] — the filter-decision view:
    * (id, n_toks, n_spans, dup_toks, dup_frac), every input document
    * present (zero spans ⇒ zeros). `dup_frac` is the exact integer
    * ratio dup_toks / n_toks (one IEEE division, engine-reproducible).
    */
  def dupSpanStats(df: DataFrame, id: Column, text: Column,
      w: Int): DataFrame = {
    val docs = df.select(id.as("__id"),
      size(tokens(text)).cast("long").as("n_toks"))
    val perDoc = dupSpans(df, id, text, w)
      .groupBy(col("id").as("__id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len_toks")).as("dup_toks"))
    docs.join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("id"), col("n_toks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"))
      .withColumn("dup_frac",
        when(col("n_toks") > 0,
          col("dup_toks").cast("double") / col("n_toks").cast("double"))
          .otherwise(lit(0.0d)))
  }

  /** Duplicated-span REMOVAL — the cleaning half of [[dupSpans]]:
    * every token covered by a maximal duplicated span is dropped and
    * the document reassembled from the survivors in order. Removal is
    * symmetric (ALL occurrences go, not all-but-one): the span
    * detector cannot pick a canonical occurrence without a global
    * tie-break, and pipelines that want keep-one semantics run
    * [[dropFrequentChunks]] at chunk granularity instead — this
    * operator's contract is "no 2w-token window of the output text
    * appeared twice in the input corpus".
    *
    * Returns (id, n_toks, n_kept, clean_text), every input document
    * present (clean docs pass through verbatim re-joined; fully
    * duplicated docs come back empty).
    *
    * Scale shape: [[dupSpans]]'s three bounded shuffles, one
    * span-list aggregation (span lists are per-doc and tiny), one
    * left join back to the corpus on the doc id, and a per-row
    * positional filter — the token-index mask is a higher-order
    * filter over the already-materialized token array, so the
    * reassembly never explodes the corpus.
    */
  def stripDupSpans(df: DataFrame, id: Column, text: Column,
      w: Int): DataFrame = {
    val spanType = "array<struct<span_start:bigint,span_len_toks:bigint>>"
    val spans = dupSpans(df, id, text, w)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_len_toks")))
        .as("__spans"))
    val docs = df.select(id.as("id"), tokens(text).as("__toks"))
    docs.join(spans, Seq("id"), "left")
      .withColumn("__spans",
        coalesce(col("__spans"), array().cast(spanType)))
      .withColumn("__indexed",
        when(size(col("__toks")) > 0,
          zip_with(col("__toks"),
            sequence(lit(1), size(col("__toks"))),
            (t, i) => struct(t.as("tk"), i.as("i"))))
          .otherwise(array().cast("array<struct<tk:string,i:int>>")))
      .withColumn("__kept",
        filter(col("__indexed"), p =>
          !exists(col("__spans"), sp =>
            p.getField("i") >= sp.getField("span_start") &&
              p.getField("i") < sp.getField("span_start") +
                sp.getField("span_len_toks"))))
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_toks"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(transform(col("__kept"), _.getField("tk")), " ")
          .as("clean_text"))
  }

  /** Exact CONTAINMENT pairs — the near-superset detector Jaccard
    * misses: a short document wholly embedded in a long one scores
    * |A∩B|/|A∪B| ≈ |A|/|B| (low — minhash never surfaces it) but
    * containment |A∩B|/min(|A|,|B|) = 1. Candidates come from
    * [[spanOverlapPairs]] (shared RARE shingles, df-capped fan-out —
    * a containment candidate must share content-bearing shingles, and
    * boilerplate shingles above dfCap cannot pair the corpus
    * quadratically); survivors verify exactly with the codegen'd
    * sorted-merge intersect over the full hash sets. Returns
    * (id_a, id_b, containment) at containment >= threshold, id_a <
    * id_b.
    *
    * Scale shape: the candidate generator's one rare-shingle shuffle
    * plus two id-keyed joins to re-attach the (already materialized)
    * hash sets of the CANDIDATE PAIRS only — the corpus never
    * re-tokenizes and never self-joins.
    */
  def containmentPairs(sets: DataFrame, id: String, hsCol: String,
      dfCap: Int, minShared: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val cand = spanOverlapPairs(sets, id, hsCol, dfCap, minShared)
      .select("id_a", "id_b")
    val sa = sets.select(col(id).as("id_a"), col(hsCol).as("__ha"))
    val sb = sets.select(col(id).as("id_b"), col(hsCol).as("__hb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("__n",
        graft.functions.NativeExpressions.sortedIntersectSize(
          col("__ha"), col("__hb")))
      .withColumn("containment",
        col("__n").cast("double") /
          least(size(col("__ha")), size(col("__hb"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Prefix-blocked edit-distance pair join — the record-linkage /
    * fuzzy-dedup primitive for short normalized text: candidates are
    * generated by EXACT equality on the first `blockLen` characters of
    * the whitespace-normalized token stream (a hash-shuffle equi-join,
    * never a cross product), then scored with Levenshtein distance
    * over the first `prefixLen` characters and kept at
    * `lev <= maxDist`. Returns (id_a, id_b, lev) with id_a < id_b.
    *
    * Scale shape: one equi-join on the block key; a block of size b
    * contributes b² candidate rows, so callers bound blocks the same
    * way the MinHash path does (blockCap; oversize blocks are dropped
    * whole — a block bigger than the cap is ipso facto boilerplate,
    * and surfacing it is [[dropFrequentChunks]]' job, not a pair
    * scorer's). Levenshtein runs post-join on prefixLen-bounded
    * strings: O(prefixLen²) per candidate, independent of document
    * length.
    */
  def editDistancePairs(df: DataFrame, id: Column, text: Column,
      blockLen: Int, prefixLen: Int, maxDist: Int,
      blockCap: Int = 64): DataFrame = {
    require(blockLen > 0 && prefixLen >= blockLen && maxDist >= 0,
      "need 0 < blockLen <= prefixLen and maxDist >= 0")
    val norm = df.select(id.as("__id"),
        array_join(tokens(text), " ").as("__norm"))
      .select(col("__id"), substring(col("__norm"), 1, blockLen).as("blk"),
        substring(col("__norm"), 1, prefixLen).as("pfx"))
    val keep = norm.groupBy("blk").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= blockCap).select("blk")
    val blocked = norm.join(keep, "blk")
    val a = blocked.select(col("blk"), col("__id").as("id_a"),
      col("pfx").as("__pa"))
    val b = blocked.select(col("blk"), col("__id").as("id_b"),
      col("pfx").as("__pb"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("lev", levenshtein(col("__pa"), col("__pb")))
      .filter(col("lev") <= maxDist)
      .select(col("id_a"), col("id_b"), col("lev").cast("long").as("lev"))
  }

  /** Quality-aware canonical selection: within each duplicate
    * component keep the member with the HIGHEST score, ties to the
    * smallest id — "keep the longest/cleanest version of the page"
    * instead of the arbitrary min-id canonical. `comp` is a
    * (id, comp) labeling (e.g. [[connectedComponents]] output);
    * unlabeled ids are their own singleton component and trivially
    * keep themselves.
    *
    * Scale shape: one map-side-combined argmax aggregation per
    * component and one join back on the component key — no window
    * sort over the corpus. The argmax rides a single max(struct):
    * (score, −id) is safe because ids are non-negative by contract
    * (checked), so the negation-overflow trap at Long.MinValue
    * cannot arise. Returns (id, comp, score, keep).
    */
  def keepBestInComponent(df: DataFrame, id: Column, score: Column,
      comp: DataFrame): DataFrame = {
    val t = df.select(id.as("id"), score.as("score"))
      .join(comp.select(col("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"),
        col("score"))
    val best = t
      .select(col("comp"), when(col("id") < 0,
          raise_error(lit("keepBestInComponent needs non-negative ids")))
        .otherwise(col("id")).as("id"), col("score"))
      .groupBy("comp")
      .agg(max(struct(col("score").as("s"), (-col("id")).as("ni")))
        .as("b"))
      .select(col("comp"), (-col("b.ni")).as("__winner"))
    t.join(best, Seq("comp"))
      .select(col("id"), col("comp"), col("score"),
        (col("id") === col("__winner")).as("keep"))
  }
}
