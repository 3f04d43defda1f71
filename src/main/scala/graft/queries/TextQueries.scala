package graft.queries

import graft.functions.GraftFunctions._
import graft.ops.{Dedup, GraphOps, Multimodal, TextOps}
import graft.queries.Tables.load
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over `documents`, each with a DuckDB twin.
  * The twins share every constant (hash modulus, minhash permutation
  * parameters, thresholds) with the Spark implementations via
  * interpolation from the same Scala values, so the two sides cannot
  * drift.
  */
object TextQueries {

  /** DuckDB tokenizer matching GraftFunctions.tokens. */
  private val sqlToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB portable hash of an expression, matching portableHash.
    * Package-visible: the analytics twins (q_kmv_distinct) share it.
    */
  private[queries] def sqlPhash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"list_filter(string_split($e, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT)))," +
      s" (a, x) -> (a * 31 + x) % $PhMod)"

  /** DuckDB twin of GraftFunctions.sampleHash (scrambled hash for
    * fine-grained sampling).
    */
  private[queries] def sqlSampleHash(e: String): String =
    s"((${sqlPhash(e)}) * $SampleA + $SampleB) % $PhMod"

  /** One ingest-gate state dir per (session, dataset): the e2e gate
    * query is side-effecting (two applyBatch parquet writes), so bench
    * reps reuse the first run's state via [[TempState]] instead of
    * re-running the gate and leaking a fresh temp dir per rep.
    */
  private def gateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("gate|" + s.sparkContext.applicationId + "|" + d) { root =>
      // explicit UNCAPPED probe: this state feeds the oracle query,
      // whose SQL twin states the gate's exact semantics (the finite
      // production default would drop heavy-band corpus pairs)
      val gate = new graft.streaming.IngestGate(s, root,
        k = MinhashK, rowsPerBand = RowsPerBand, threshold = MinhashJaccard,
        probeCap = Int.MaxValue)
      val docs = load(s, d, "documents").select(col("doc_id"), col("text"))
      gate.applyBatch(docs.filter(col("doc_id") % 2 === 0), 0L)
      gate.applyBatch(docs.filter(col("doc_id") % 2 === 1), 1L)
    }

  /** BPE merge count for the oracle pair (small enough that the
    * unrolled SQL twin stays readable, large enough that multi-char
    * symbols merge with other multi-char symbols). NOTE: must be
    * declared BEFORE `all` — the oracle SQL strings interpolate it at
    * object initialization.
    */
  private[queries] val BpeMerges = 8

  // 2 bands x 8 rows: P(candidate) = 1-(1-j^8)^2 — sharp at the 0.95
  // verify threshold (0.88 recall) while keeping low-j candidates,
  // and with them the shuffle volume, near zero.
  private[queries] val MinhashK = 16
  private[queries] val RowsPerBand = 8
  private[queries] val MinhashJaccard = 0.95

  /** Shared DuckDB MinHash pipeline: shingle-hash sets → K signatures
    * → band keys → banded candidates → size-prefiltered exact-Jaccard
    * scores (CTE `mj(id_a, id_b, jac)`), ready for a caller-appended
    * consumer. One builder so doc_dedup_minhash, doc_dup_components,
    * and doc_dup_rate_by_source replay the IDENTICAL candidate
    * generation.
    */
  /** The K signature aggregates and the per-band key selects — the
    * candidate-generation core, shared by [[sqlMinhashPairCtes]] AND
    * doc_curation_pipeline's bespoke twin so band-key handling cannot
    * drift anywhere.
    */
  private val sqlMinhashSigs: String = (0 until MinhashK).map(j =>
    s"min((h * ${minhashA(j)} + ${minhashB(j)}) % $MinhashPrime) AS sig_$j")
    .mkString(",\n  ")
  private val sqlMinhashBandSelects: String =
    (0 until MinhashK / RowsPerBand).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig_${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, concat_ws(':', '$b', $parts) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")

  /** Hash-set → signatures → band-key CTEs (t/u/sig/bands), the
    * candidate-generation front half shared by the within-corpus pair
    * CTEs AND the incremental (batch-vs-corpus) twin — one text so the
    * banding cannot drift between the two framings.
    */
  private val sqlMinhashBandCtes: String = {
    val sigs = sqlMinhashSigs
    val bandSelects = sqlMinhashBandSelects
    s"""t AS (SELECT doc_id, list_distinct(list_transform(
       |    list_distinct($sqlToks), tok -> ${sqlPhash("tok")})) AS hs
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(hs) AS h FROM t),
       |sig AS (SELECT doc_id,
       |  $sigs
       |  FROM u GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** The exact-Jaccard verify tail over a caller-supplied `cand(id_a,
    * id_b)` CTE — shared by the exact and the skew-capped pair CTEs so
    * verification cannot drift between them.
    */
  private val sqlMinhashVerifyCte: String =
    s"""mj AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE) /
       |    nullif(CAST(len(list_distinct(list_concat(ta.hs, tb.hs))) AS DOUBLE), 0.0)
       |    AS jac
       |  FROM cand JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b
       |  WHERE CAST(least(len(ta.hs), len(tb.hs)) AS DOUBLE) >=
       |        $MinhashJaccard * greatest(len(ta.hs), len(tb.hs)))""".stripMargin

  private[queries] val sqlMinhashPairCtes: String =
    s"""$sqlMinhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_key)
       |  WHERE a.doc_id < b.doc_id),
       |$sqlMinhashVerifyCte""".stripMargin

  /** Skew-guarded twin of [[sqlMinhashPairCtes]]: band buckets over
    * [[MinhashBucketCap]] docs collapse to a star around the min-id
    * hub (Dedup.bandedPairs semantics) instead of the quadratic
    * within-bucket all-pairs; light buckets stay exact. sf0.01 has
    * buckets of 159 and 138 docs, so the heavy branch is LIVE in this
    * oracle, not dormant.
    */
  private[queries] val MinhashBucketCap = 16
  private[queries] val SimhashBucketCap = 32
  private[queries] val sqlMinhashCappedPairCtes: String =
    s"""$sqlMinhashBandCtes,
       |bc AS (SELECT band_key, count(*) AS bn, min(doc_id) AS hub
       |  FROM bands GROUP BY band_key),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_key) JOIN bc USING (band_key)
       |  WHERE bc.bn <= $MinhashBucketCap AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT bc.hub AS id_a, bands.doc_id AS id_b
       |  FROM bands JOIN bc USING (band_key)
       |  WHERE bc.bn > $MinhashBucketCap AND bands.doc_id <> bc.hub),
       |$sqlMinhashVerifyCte""".stripMargin

  /** Shared DuckDB connected-components tail over the verified pair
    * set: CTEs e/sym/reach/comp; `comp(id, comp)` is the min-id
    * component labeling (see doc_dup_components for the contract).
    */
  /** The min-label fixpoint tail alone (sym/reach/comp over a
    * caller-supplied edge CTE `e(id_a, id_b)`) — shared with the
    * hybrid lexical+semantic composition in EmbQueries.
    */
  private[queries] val sqlComponentTail: String =
    s"""sym AS (SELECT id_a AS src, id_b AS dst FROM e
       |  UNION SELECT id_b, id_a FROM e),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM sym
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
       |comp AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id)""".stripMargin

  private val sqlComponentCtes: String =
    s"""e AS (SELECT id_a, id_b FROM mj WHERE jac >= $MinhashJaccard),
       |$sqlComponentTail""".stripMargin

  // Gopher-style repetition-filter thresholds (≈p80/p90 of the
  // corpus — non-degenerate verdict), shared with the SQL twin
  private val RepDup2Max = 0.05
  private val RepTopTokMax = 0.13

  /** doc_containment_pairs verify threshold (the corpus is bimodal —
    * candidate containment is either well below or well above; 25
    * pairs at 0.9 at sf0.01).
    */
  private val ContainThreshold = 0.9

  /** BM25 fixed query + parameters (doc_bm25_topk): one rare term
    * (df ≈ 5%) and two common ones so idf discrimination and tf
    * saturation both matter. The floating constants interpolate into
    * the twin from these SAME Scala doubles (Double.toString
    * round-trips exactly), so both engines evaluate identical IEEE
    * expressions.
    */
  private[queries] val Bm25Terms = Seq("dup", "vector", "merge")
  private[queries] val Bm25K1 = 1.2
  private[queries] val Bm25B = 0.75
  private[queries] val Bm25TopK = 20

  /** The retrieval-sweep query table (doc_bm25_multi): query 0 is the
    * single-query fixture (rare + common), 1–2 mix common terms, 3
    * pairs a dead term with a live one, 4 is entirely dead (no output
    * rows).
    */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "dup", 0L -> "vector", 0L -> "merge",
    1L -> "spark", 1L -> "join",
    2L -> "window", 2L -> "stream", 2L -> "slow",
    3L -> "zzznope", 3L -> "hash",
    4L -> "qqqmissing")

  /** nDCG truncation depth (doc_bm25_ndcg, doc_bm25_multi_ndcg). */
  private val NdcgK = 10

  /** The multi-query BM25 pipeline as a CTE prefix ending in
    * `sr(query_id, doc_id, n_hit, score_e6)` — shared by the sweep
    * twin and its per-query grader so the scoring arithmetic cannot
    * drift.
    */
  private val sqlBm25MultiSrCtes: String = {
    val values = Bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
       |  FROM (VALUES $values) AS v(query_id, term)),
       |t AS (SELECT doc_id, $sqlToks AS w FROM documents),
       |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d),
       |e AS (SELECT doc_id, unnest(w) AS term FROM t),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM e WHERE term IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |idf AS (SELECT term, CAST(round(ln(1.0 +
       |    (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000)
       |  AS BIGINT) AS idf_e6 FROM dfq, st),
       |w8 AS (SELECT tf.doc_id, tf.term, CAST(round(
       |    CAST(idf_e6 AS DOUBLE) * (tf * ${Bm25K1 + 1.0d}) /
       |    (tf + $Bm25K1 * (${1.0d - Bm25B} + $Bm25B * dl / avgdl)))
       |  AS BIGINT) AS w_e6
       |  FROM tf JOIN idf USING (term) JOIN d USING (doc_id), st),
       |sr AS (SELECT qt.query_id, w8.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_hit,
       |  CAST(sum(w_e6) AS BIGINT) AS score_e6
       |  FROM w8 JOIN qt USING (term) GROUP BY 1, 2)""".stripMargin
  }

  /** The single-query BM25 pipeline as a CTE prefix ending in
    * `sr(doc_id, n_hit, score_e6)` — shared by the top-k twin and the
    * nDCG grader twin so the scoring arithmetic cannot drift.
    */
  private[queries] val sqlBm25SrCtes: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (SELECT doc_id, $sqlToks AS w FROM documents),
       |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d),
       |e AS (SELECT doc_id, unnest(w) AS term FROM t),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM e WHERE term IN ($termList) GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |idf AS (SELECT term, CAST(round(ln(1.0 +
       |    (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000)
       |  AS BIGINT) AS idf_e6 FROM dfq, st),
       |w8 AS (SELECT tf.doc_id, CAST(round(
       |    CAST(idf_e6 AS DOUBLE) * (tf * ${Bm25K1 + 1.0d}) /
       |    (tf + $Bm25K1 * (${1.0d - Bm25B} + $Bm25B * dl / avgdl)))
       |  AS BIGINT) AS w_e6
       |  FROM tf JOIN idf USING (term) JOIN d USING (doc_id), st),
       |sr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |  CAST(sum(w_e6) AS BIGINT) AS score_e6 FROM w8 GROUP BY 1)"""
      .stripMargin
  }

  /** DSIR feature-hash bucket count and selected fraction (1/4) for
    * doc_dsir_select.
    */
  private val DsirBuckets = 1024
  private val DsirNum = 1L
  private val DsirDen = 4L

  /** Threshold-sweep band count (doc_nb_threshold_sweep). */
  private val SweepBins = 10

  /** Drift feature-hash bucket count and the per-bucket PSI
    * contribution (nano-units) above which a bucket counts as "hot"
    * in doc_drift_summary. The slice pair is crawl-generation-shaped:
    * sources src0–src9 as the reference corpus vs src10–src19 as the
    * incoming candidate.
    */
  private val DriftBuckets = 256
  private val DriftHotPsiE9 = 100000L

  /** Score-drift band count (doc_score_drift). */
  private val ScoreDriftBins = 16

  /** The pixel-query payload source: per-doc PNGs REALLY ENCODED
    * (javax.imageio, lossless) from a closed-form RGB gradient keyed
    * off doc_id — r=(d+31x+17y)%256, g=(7d+5x)%256, b=(13d+3y)%256
    * over a (4+d%13)×(3+d%7) raster — so the SQL twin can recompute
    * every pixel. Every 11th payload is garbage for the corrupt/DLQ
    * branch. Shared by mm_pixel_stats and mm_pixel_resize so both
    * sides agree on one synthesis.
    */
  private def pixelPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4L + id % 13L).toInt
        val h = (3L + id % 7L).toInt
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else graft.ops.ImageCodec.encodePng(w, h, (x, y) =>
            ((((id + 31L * x + 17L * y) % 256L).toInt << 16) |
              (((7L * id + 5L * x) % 256L).toInt << 8) |
              ((13L * id + 3L * y) % 256L).toInt))
        (id, bytes)
      })
  }

  /** Brightness-variant image payload for the perceptual-hash
    * queries: the pixel gradient is keyed by g = doc_id % 50 (so ~10
    * docs per base image at the 500-doc scales) with a PER-DOC
    * uniform brightness offset o = (doc_id div 50) % 10 added to
    * every channel — different payload BYTES (content hashing sees
    * distinct images), identical dHash (a uniform +o shifts every
    * grayscale value by exactly o: channels stay under 256 via the
    * %246 base, and (base + 1000·o) div 1000 = base div 1000 + o, so
    * no gradient sign can flip). Every 11th payload is garbage.
    */
  private def dhashPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val o = ((id / 50L) % 10L).toInt
        val w = (4L + g % 13L).toInt
        val h = (3L + g % 7L).toInt
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else graft.ops.ImageCodec.encodePng(w, h, (x, y) =>
            ((((g + 31L * x + 17L * y) % 246L).toInt + o << 16) |
              (((7L * g + 5L * x) % 246L).toInt + o << 8) |
              (((13L * g + 3L * y) % 246L).toInt + o)))
        (id, bytes)
      })
  }

  /** The dHash trajectory replayed in SQL over the [[dhashPayload]]
    * synthesis — ends at `hs(doc_id, hash_hi, hash_lo)` for ok rows.
    * Shared by mm_image_dhash and mm_image_dedup.
    */
  private lazy val sqlDHashCtes: String =
    """dp AS (SELECT doc_id, doc_id % 50 AS g, (doc_id // 50) % 10 AS o
      |  FROM documents),
      |dd AS (SELECT doc_id, g, o, 4 + g % 13 AS w, 3 + g % 7 AS h
      |  FROM dp WHERE doc_id % 11 <> 0),
      |dgx AS (SELECT *, unnest(range(0, 9)) AS xx FROM dd),
      |dgxy AS (SELECT *, unnest(range(0, 8)) AS yy FROM dgx),
      |dsm AS (SELECT doc_id, g, o, xx, yy,
      |  (xx * w) // 9 AS sx, (yy * h) // 8 AS sy FROM dgxy),
      |dgr AS (SELECT doc_id, xx, yy,
      |  (299 * ((g + 31 * sx + 17 * sy) % 246 + o)
      |   + 587 * ((7 * g + 5 * sx) % 246 + o)
      |   + 114 * ((13 * g + 3 * sy) % 246 + o)) // 1000 AS gray
      |  FROM dsm),
      |dbt AS (SELECT doc_id, yy, xx,
      |  CASE WHEN lead(gray) OVER (PARTITION BY doc_id, yy
      |    ORDER BY xx) > gray THEN 1 ELSE 0 END AS bit FROM dgr),
      |hs AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx - 32 AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx < 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM dbt WHERE xx < 8 GROUP BY doc_id)""".stripMargin

  /** Controlled-DISTANCE image payload for the near-dup recall
    * oracle: every ok image is 9×8 (identity dHash grid sampling)
    * with r=g=b gray pixels built by a ±3 walk from 100 along each
    * row, so the REAL decode's dHash equals a closed-form 64-bit
    * pattern — base bit ((g·37 + p·17) % 97) % 2 at position p, with
    * variant v = (doc_id div 50) % 10 flipping positions
    * (g + 11·j) % 64 for j < f(v), f(v) = v for v ≤ 6 and 8·(v−6)
    * above (stride 11 is coprime to 64, so flip positions are
    * distinct for j < 24). Two variants of one group flip PREFIXES
    * of the same position sequence, so their Hamming distance is
    * EXACTLY |f(a) − f(b)| — the corpus carries known pairs at every
    * distance 1..6 plus beyond-threshold distractors (8, 16, 24),
    * the spectrum the brightness-variant payload (all distance 0)
    * cannot produce. Every 11th payload is garbage.
    */
  private def dhashNearPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val nf = if (v <= 6) v.toLong else 8L * (v - 6)
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            // 35 = 11⁻¹ mod 64: position p is flipped iff its index
            // j = 35·(p − g) mod 64 in the flip sequence is < f(v)
            def bit(p: Int): Int = {
              val base = (((g * 37L + p * 17L) % 97L) % 2L).toInt
              val j = (((p - g) * 35L) % 64L + 64L) % 64L
              if (j < nf) 1 - base else base
            }
            // dHash bit at (x,y) is gray(x+1,y) > gray(x,y): a ±3
            // walk realizes any bit pattern with gray ∈ [76, 124]
            val gray = Array.ofDim[Int](8, 9)
            var y = 0
            while (y < 8) {
              gray(y)(0) = 100
              var x = 0
              while (x < 8) {
                gray(y)(x + 1) = gray(y)(x) +
                  (if (bit(y * 8 + x) == 1) 3 else -3)
                x += 1
              }
              y += 1
            }
            // r=g=b makes the 299/587/114 luma the gray value itself
            graft.ops.ImageCodec.encodePng(9, 8,
              (x, yy) => gray(yy)(x) * 0x010101)
          }
        (id, bytes)
      })
  }

  /** The 4×16-band radius-1 multi-probe pair generator replayed in
    * SQL over an `hs(doc_id, hash_hi, hash_lo)` CTE — ends at
    * `ipair(id_a, id_b, hamming)` with the popcount ≤ 6 verify.
    * Shared by mm_image_neardup and mm_image_dup_components so the
    * banding cannot drift between the pair report and its
    * clustering consumer.
    */
  private lazy val sqlDHashBandPairCtes: String =
    """ibands AS (
      |  SELECT doc_id, hash_hi, hash_lo, 0 AS bi,
      |    hash_lo & 65535 AS bv FROM hs
      |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 1,
      |    (hash_lo >> 16) & 65535 FROM hs
      |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 2,
      |    hash_hi & 65535 FROM hs
      |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 3,
      |    (hash_hi >> 16) & 65535 FROM hs),
      |imask AS (SELECT CAST(0 AS BIGINT) AS m
      |  UNION ALL SELECT CAST(1 AS BIGINT) << CAST(i AS INT)
      |  FROM (SELECT unnest(range(0, 16)) AS i)),
      |iprobe AS (SELECT b.doc_id, b.hash_hi, b.hash_lo, b.bi,
      |  xor(b.bv, k.m) AS bv FROM ibands b, imask k),
      |icand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |  a.hash_hi AS ha, a.hash_lo AS la,
      |  b.hash_hi AS hb, b.hash_lo AS lb
      |  FROM iprobe a JOIN ibands b
      |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |ipair AS (SELECT id_a, id_b,
      |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
      |    AS BIGINT) AS hamming
      |  FROM icand
      |  WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6)"""
      .stripMargin

  /** The closed-form hash of [[dhashNearPayload]] — ends at
    * `crh(doc_id, hash_hi, hash_lo)` for ok rows. The twin computes
    * the PATTERN directly (base XOR prefix-flip) while Spark really
    * decodes the pixels — independent derivations by construction.
    */
  private lazy val sqlDHashNearCtes: String =
    """crp AS (SELECT doc_id, doc_id % 50 AS g,
      |  CASE WHEN (doc_id // 50) % 10 <= 6 THEN (doc_id // 50) % 10
      |    ELSE 8 * ((doc_id // 50) % 10 - 6) END AS nf
      |  FROM documents WHERE doc_id % 11 <> 0),
      |crb AS (SELECT doc_id, g, nf, unnest(range(0, 64)) AS p
      |  FROM crp),
      |crbit AS (SELECT doc_id, p,
      |  CASE WHEN ((35 * (p - g)) % 64 + 64) % 64 < nf
      |    THEN 1 - ((g * 37 + p * 17) % 97) % 2
      |    ELSE ((g * 37 + p * 17) % 97) % 2 END AS bit FROM crb),
      |crh AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1 AND p >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(p - 32 AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND p < 32
      |    THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_lo
      |  FROM crbit GROUP BY doc_id)""".stripMargin

  /** [[dhashNearPayload]] with a PLANTED degenerate cluster: groups
    * g ≥ 44 are FLAT images (constant gray 100 — every horizontal
    * gradient bit 0, so the dHash is the all-zero value, the
    * archetypal real-corpus hub: blank thumbnails, solid backgrounds,
    * failed renders). ~12% of the corpus lands in ONE band bucket per
    * band — the exact shape that turned mm_video_neardup's sub-grid
    * frames into the 32k-row incident, here on purpose so the band
    * cap is exercised against an oracle instead of discovered in an
    * explosion. Groups g < 44 keep the controlled-distance spectrum.
    */
  private def dhashHubPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val nf = if (v <= 6) v.toLong else 8L * (v - 6)
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else if (g >= 44L)
            graft.ops.ImageCodec.encodePng(9, 8, (_, _) => 0x646464)
          else {
            def bit(p: Int): Int = {
              val base = (((g * 37L + p * 17L) % 97L) % 2L).toInt
              val j = (((p - g) * 35L) % 64L + 64L) % 64L
              if (j < nf) 1 - base else base
            }
            val gray = Array.ofDim[Int](8, 9)
            var y = 0
            while (y < 8) {
              gray(y)(0) = 100
              var x = 0
              while (x < 8) {
                gray(y)(x + 1) = gray(y)(x) +
                  (if (bit(y * 8 + x) == 1) 3 else -3)
                x += 1
              }
              y += 1
            }
            graft.ops.ImageCodec.encodePng(9, 8,
              (x, yy) => gray(yy)(x) * 0x010101)
          }
        (id, bytes)
      })
  }

  /** Closed-form hashes of [[dhashHubPayload]] — ends at
    * `hubh(doc_id, hash_hi, hash_lo)`: the [[sqlDHashNearCtes]]
    * pattern for g < 44, the all-zero hash for the planted flat
    * groups.
    */
  private lazy val sqlDHashHubCtes: String =
    """hup AS (SELECT doc_id, doc_id % 50 AS g,
      |  CASE WHEN (doc_id // 50) % 10 <= 6 THEN (doc_id // 50) % 10
      |    ELSE 8 * ((doc_id // 50) % 10 - 6) END AS nf
      |  FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 50 < 44),
      |hub0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS hash_hi,
      |  CAST(0 AS BIGINT) AS hash_lo FROM documents
      |  WHERE doc_id % 11 <> 0 AND doc_id % 50 >= 44),
      |hubb AS (SELECT doc_id, g, nf, unnest(range(0, 64)) AS p
      |  FROM hup),
      |hubbit AS (SELECT doc_id, p,
      |  CASE WHEN ((35 * (p - g)) % 64 + 64) % 64 < nf
      |    THEN 1 - ((g * 37 + p * 17) % 97) % 2
      |    ELSE ((g * 37 + p * 17) % 97) % 2 END AS bit FROM hubb),
      |hubh AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1 AND p >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(p - 32 AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND p < 32
      |    THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_lo
      |  FROM hubbit GROUP BY doc_id
      |  UNION ALL SELECT doc_id, hash_hi, hash_lo FROM hub0)"""
      .stripMargin

  /** Gain-variant audio payload for the fingerprint queries: the
    * waveform is keyed by g = doc_id % 50 (so ~10 docs per base clip
    * at the 500-doc scales) with a PER-DOC integer gain
    * k = 1 + (doc_id div 50) % 10 multiplying every sample —
    * different bytes and energies, identical energy contour (base
    * samples stay within ±2000, so ×10 never clips). Every 11th
    * payload is garbage.
    */
  private def audioFpPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val k = 1L + (id / 50L) % 10L
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            val n = (50L + g % 97L).toInt
            val samples = Array.tabulate[Short](n) { i =>
              ((((g * 31L + i * 17L) % 4001L) - 2000L) * k).toShort
            }
            graft.ops.AudioCodec.encodeWav(8000L, samples)
          }
        (id, bytes)
      })
  }

  /** The 33-frame energy-contour fingerprint replayed in SQL over
    * the [[audioFpPayload]] synthesis — ends at `afp(doc_id, fp)`
    * for ok rows. Shared by mm_audio_fingerprint and mm_audio_dedup.
    */
  private lazy val sqlAudioFpCtes: String =
    """ap AS (SELECT doc_id, doc_id % 50 AS g,
      |  1 + (doc_id // 50) % 10 AS k FROM documents),
      |ad AS (SELECT doc_id, g, k, 50 + g % 97 AS n FROM ap
      |  WHERE doc_id % 11 <> 0),
      |axs AS (SELECT *, unnest(range(0, n)) AS i FROM ad),
      |asv AS (SELECT doc_id, n, i,
      |  (((g * 31 + i * 17) % 4001) - 2000) * k AS s FROM axs),
      |aen AS (SELECT doc_id, (i * 33) // n AS f,
      |  CAST(sum(s * s) AS BIGINT) AS e FROM asv GROUP BY 1, 2),
      |abt AS (SELECT doc_id, f,
      |  CASE WHEN lead(e) OVER (PARTITION BY doc_id ORDER BY f) > e
      |    THEN 1 ELSE 0 END AS bit FROM aen),
      |afp AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1
      |    THEN CAST(1 AS BIGINT) << CAST(f AS INT) ELSE 0 END)
      |    AS BIGINT) AS fp
      |  FROM abt WHERE f < 32 GROUP BY doc_id)""".stripMargin

  /** Controlled-DISTANCE audio payload for the fingerprint near-dup
    * tier: 66 samples = 33 exact 2-sample frames whose per-frame
    * amplitude walks ±10 from 1000, so the REAL decode's 32-bit
    * energy contour equals a closed-form pattern — base bit
    * ((g·29 + f·13) % 89) % 2 at frame-step f, variant
    * v = (doc_id div 50) % 10 flipping steps (g + 7·j) % 32 for
    * j < f(v), f(v) = v for v ≤ 4 and 6 + 4·(v−5) above (stride 7 is
    * coprime to 32 → distinct for j < 22). Pairwise distance within
    * a group is exactly |f(a) − f(b)|: known pairs at 1..4 plus
    * beyond-threshold distractors. An independent integer gain
    * k = 1 + doc_id % 3 multiplies every sample — energies scale by
    * k², the contour doesn't move (the invariance axis, exercised
    * jointly with the distance axis). Every 11th payload is garbage.
    */
  private def audioNearPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val nf = if (v <= 4) v.toLong else 6L + 4L * (v - 5)
        val k = 1L + id % 3L
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            // 23 = 7⁻¹ mod 32: step f is flipped iff its index
            // j = 23·(f − g) mod 32 in the flip sequence is < f(v)
            def bit(f: Int): Int = {
              val base = (((g * 29L + f * 13L) % 89L) % 2L).toInt
              val j = (((f - g) * 23L) % 32L + 32L) % 32L
              if (j < nf) 1 - base else base
            }
            // contour bit f is e(f+1) > e(f); equal-amplitude frames
            // make e(f) = 2·a(f)²·k², so a ±10 walk from 1000
            // realizes any pattern with a ∈ [680, 1320]
            val a = new Array[Long](33)
            a(0) = 1000L
            var f = 0
            while (f < 32) {
              a(f + 1) = a(f) + (if (bit(f) == 1) 10L else -10L)
              f += 1
            }
            val samples = Array.tabulate[Short](66)(i =>
              (a(i / 2) * k).toShort)
            graft.ops.AudioCodec.encodeWav(8000L, samples)
          }
        (id, bytes)
      })
  }

  /** The closed-form fingerprint of [[audioNearPayload]] — ends at
    * `canf(doc_id, fp)` for ok rows; the twin computes the pattern
    * directly (base XOR prefix-flip) while Spark really decodes the
    * PCM and folds frame energies.
    */
  private lazy val sqlAudioNearCtes: String =
    """cap AS (SELECT doc_id, doc_id % 50 AS g,
      |  CASE WHEN (doc_id // 50) % 10 <= 4 THEN (doc_id // 50) % 10
      |    ELSE 6 + 4 * ((doc_id // 50) % 10 - 5) END AS nf
      |  FROM documents WHERE doc_id % 11 <> 0),
      |cab AS (SELECT doc_id, g, nf, unnest(range(0, 32)) AS f
      |  FROM cap),
      |cabit AS (SELECT doc_id, f,
      |  CASE WHEN ((23 * (f - g)) % 32 + 32) % 32 < nf
      |    THEN 1 - ((g * 29 + f * 13) % 89) % 2
      |    ELSE ((g * 29 + f * 13) % 89) % 2 END AS bit FROM cab),
      |canf AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1
      |    THEN CAST(1 AS BIGINT) << CAST(f AS INT) ELSE 0 END)
      |    AS BIGINT) AS fp
      |  FROM cabit GROUP BY doc_id)""".stripMargin

  /** Controlled-distance audio payload at the PRODUCTION fingerprint
    * width: 130 samples = 65 exact 2-sample frames whose amplitude
    * walks ±10 from 1000, so the 64-bit contour of
    * [[graft.ops.Multimodal.audioFingerprintWide]] equals a
    * closed-form pattern — base bit ((g·29 + f·13) % 89) % 2 at step
    * f ∈ 0..63, variant v flipping steps (g + 7·j) % 64 for j < f(v),
    * f(v) = v for v ≤ 6 and 8·(v−6) above (stride 7 coprime to 64 →
    * distinct for j < 24): known pairs at every distance 1..6 plus
    * 8/16/24 distractors, the [[dhashNearPayload]] spectrum on the
    * audio axis. Gain k = 1 + doc_id % 3 scales every sample —
    * energies move by k², the contour doesn't (the invariance axis
    * exercised jointly). Every 11th payload is garbage.
    */
  private def audioNearWidePayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val nf = if (v <= 6) v.toLong else 8L * (v - 6)
        val k = 1L + id % 3L
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            // 55 = 7⁻¹ mod 64: step f is flipped iff its index
            // j = 55·(f − g) mod 64 in the flip sequence is < f(v)
            def bit(f: Int): Int = {
              val base = (((g * 29L + f * 13L) % 89L) % 2L).toInt
              val j = (((f - g) * 55L) % 64L + 64L) % 64L
              if (j < nf) 1 - base else base
            }
            // a ±10 walk over 64 steps stays in [360, 1640]; ×k ≤ 3
            // keeps samples under 5000 — no clipping, e(f) = 2·a²·k²
            // strictly follows the walk's direction
            val a = new Array[Long](65)
            a(0) = 1000L
            var f = 0
            while (f < 64) {
              a(f + 1) = a(f) + (if (bit(f) == 1) 10L else -10L)
              f += 1
            }
            val samples = Array.tabulate[Short](130)(i =>
              (a(i / 2) * k).toShort)
            graft.ops.AudioCodec.encodeWav(8000L, samples)
          }
        (id, bytes)
      })
  }

  /** The closed-form 64-bit fingerprint of [[audioNearWidePayload]]
    * — ends at `wanf(doc_id, fp_hi, fp_lo)` for ok rows; the twin
    * computes the pattern directly (base XOR stride-flip) while
    * Spark really decodes the PCM and folds 65 frame energies.
    */
  private lazy val sqlAudioNearWideCtes: String =
    """wap AS (SELECT doc_id, doc_id % 50 AS g,
      |  CASE WHEN (doc_id // 50) % 10 <= 6 THEN (doc_id // 50) % 10
      |    ELSE 8 * ((doc_id // 50) % 10 - 6) END AS nf
      |  FROM documents WHERE doc_id % 11 <> 0),
      |wab AS (SELECT doc_id, g, nf, unnest(range(0, 64)) AS f
      |  FROM wap),
      |wabit AS (SELECT doc_id, f,
      |  CASE WHEN ((55 * (f - g)) % 64 + 64) % 64 < nf
      |    THEN 1 - ((g * 29 + f * 13) % 89) % 2
      |    ELSE ((g * 29 + f * 13) % 89) % 2 END AS bit FROM wab),
      |wanf AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN bit = 1 AND f >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(f - 32 AS INT) ELSE 0 END)
      |    AS BIGINT) AS fp_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND f < 32
      |    THEN CAST(1 AS BIGINT) << CAST(f AS INT) ELSE 0 END)
      |    AS BIGINT) AS fp_lo
      |  FROM wabit GROUP BY doc_id)""".stripMargin

  /** Brightness-variant AVI payload for the video-dedup queries:
    * frame gradients keyed by g = doc_id % 50 with the per-doc
    * uniform offset o (the [[dhashPayload]] trick per frame), frame
    * count 1 + g % 4, dims keyed by (g, f). Every 11th container is
    * garbage; when g % 7 == 3 frame 0 is an undecodable stub (keyed
    * by g, so brightness variants agree on which frame is bad).
    */
  private def videoFpPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val o = ((id / 50L) % 10L).toInt
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            val nf = (1L + g % 4L).toInt
            val frames = (0 until nf).map { f =>
              if (g % 7L == 3L && f == 0)
                Array[Byte](0x4e, 0x4f, 0x50, 0x45)
              else {
                val w = (3L + (g + f) % 5L).toInt
                val h = (2L + (g + 2L * f) % 4L).toInt
                graft.ops.ImageCodec.encodePng(w, h, (x, y) =>
                  ((((g + 7L * f + 31L * x + 17L * y) % 246L).toInt + o << 16) |
                    (((5L * g + 11L * f + 3L * x) % 246L).toInt + o << 8) |
                    (((3L * g + 13L * f + 5L * y) % 246L).toInt + o)))
              }
            }
            graft.ops.VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames)
          }
        (id, bytes)
      })
  }

  /** Edited-frame AVI payload for the video NEAR-dup tier: like
    * [[videoFpPayload]] but 3..5 frames (nf = 3 + g % 3, so an edit
    * leaves a majority of frames shared), brightness offset o = v,
    * and variants v ≥ 8 REPLACE frame (g % nf) with different
    * content (gradient key g + 1000) — the one-frame re-edit that
    * exact ordered-sequence dedup (mm_video_dedup) can never
    * collapse. No corrupt-frame stubs (container corruption at every
    * 11th doc keeps the routing discipline); all variants of a group
    * agree on dims and frame count, so unedited frames collapse
    * dHash-for-dHash across brightness.
    */
  private def videoNearPayload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val o = v
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            val nf = (3L + g % 3L).toInt
            val frames = (0 until nf).map { f =>
              val gk = if (v >= 8 && f == (g % nf).toInt) g + 1000L
                else g
              // dims past the 9x8 sampling grid: sub-grid frames
              // collapse to a degenerate hash space whose hub keys
              // make every clip look like every other
              val w = (9L + (g + f) % 5L).toInt
              val h = (8L + (g + 2L * f) % 4L).toInt
              graft.ops.ImageCodec.encodePng(w, h, (x, y) =>
                ((((gk + 7L * f + 31L * x + 17L * y) % 246L).toInt + o << 16) |
                  (((5L * gk + 11L * f + 3L * x) % 246L).toInt + o << 8) |
                  (((3L * gk + 13L * f + 5L * y) % 246L).toInt + o)))
            }
            graft.ops.VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames)
          }
        (id, bytes)
      })
  }

  /** Per-frame dHash of [[videoNearPayload]] replayed in SQL — ends
    * at `wset(doc_id, hash_hi, hash_lo)`, the DISTINCT frame-hash
    * set per ok container (the video's unordered perceptual
    * signature).
    */
  private lazy val sqlVideoNearCtes: String =
    """wp AS (SELECT doc_id, doc_id % 50 AS g, (doc_id // 50) % 10 AS v
      |  FROM documents WHERE doc_id % 11 <> 0),
      |wnf AS (SELECT doc_id, g, v, 3 + g % 3 AS nf FROM wp),
      |wfr AS (SELECT doc_id, g, v, nf, unnest(range(0, nf)) AS f
      |  FROM wnf),
      |wgk AS (SELECT doc_id, f, v AS o,
      |  CASE WHEN v >= 8 AND f = g % nf THEN g + 1000 ELSE g END AS gk,
      |  9 + (g + f) % 5 AS w, 8 + (g + 2 * f) % 4 AS h FROM wfr),
      |wgx AS (SELECT *, unnest(range(0, 9)) AS xx FROM wgk),
      |wgxy AS (SELECT *, unnest(range(0, 8)) AS yy FROM wgx),
      |wsm AS (SELECT doc_id, gk, o, f, xx, yy,
      |  (xx * w) // 9 AS sx, (yy * h) // 8 AS sy FROM wgxy),
      |wgr AS (SELECT doc_id, f, xx, yy,
      |  (299 * ((gk + 7 * f + 31 * sx + 17 * sy) % 246 + o)
      |   + 587 * ((5 * gk + 11 * f + 3 * sx) % 246 + o)
      |   + 114 * ((3 * gk + 13 * f + 5 * sy) % 246 + o)) // 1000 AS gray
      |  FROM wsm),
      |wbt AS (SELECT doc_id, f, yy, xx,
      |  CASE WHEN lead(gray) OVER (PARTITION BY doc_id, f, yy
      |    ORDER BY xx) > gray THEN 1 ELSE 0 END AS bit FROM wgr),
      |whs AS (SELECT doc_id, f,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx - 32 AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx < 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM wbt WHERE xx < 8 GROUP BY doc_id, f),
      |wset AS (SELECT DISTINCT doc_id, hash_hi, hash_lo FROM whs)""".stripMargin

  /** Re-encode-shifted AVI payload for the RADIUS-AWARE video
    * near-dup tier (round-16 verdict gap: exact-key blindness moved
    * down one level — a lossy re-encode that perturbs EVERY frame by
    * 1–2 bits never candidates under exact frame-hash matching,
    * despite tiny per-frame Hamming). Each clip has nf = 3 + g % 3
    * frames of exactly 9×8 pixels (sampling-grid identity), each
    * frame's 64 dHash bits a closed-form pattern keyed by (g, f) and
    * realized by the ±3 gray walk of [[dhashNearPayload]]; variant
    * v = (doc_id div 50) % 10 flips the SAME count of bit positions
    * in EVERY frame — f(v) = v for v ≤ 6, 8·(v−6) above — so two
    * variants of a group sit at per-frame Hamming exactly
    * |f(a) − f(b)| on every frame simultaneously: the "uniform
    * re-encode noise" shape. Flip positions stride 11 (coprime to
    * 64, distinct for j < 24) from start g + 5·f, so prefixes nest.
    * Every 11th container is garbage.
    */
  private def videoR1Payload(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    load(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % 50L
        val v = ((id / 50L) % 10L).toInt
        val nfv = if (v <= 6) v.toLong else 8L * (v - 6)
        val bytes =
          if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
          else {
            val nf = (3L + g % 3L).toInt
            val frames = (0 until nf).map { f =>
              // 35 = 11⁻¹ mod 64: position p is flipped iff its index
              // j = 35·(p − g − 5f) mod 64 in the flip walk is < f(v)
              def bit(p: Int): Int = {
                val base =
                  (((g * 37L + f * 53L + p * 17L) % 97L) % 2L).toInt
                val j = (((p - g - 5L * f) * 35L) % 64L + 64L) % 64L
                if (j < nfv) 1 - base else base
              }
              val gray = Array.ofDim[Int](8, 9)
              var y = 0
              while (y < 8) {
                gray(y)(0) = 100
                var x = 0
                while (x < 8) {
                  gray(y)(x + 1) = gray(y)(x) +
                    (if (bit(y * 8 + x) == 1) 3 else -3)
                  x += 1
                }
                y += 1
              }
              graft.ops.ImageCodec.encodePng(9, 8,
                (x, yy) => gray(yy)(x) * 0x010101)
            }
            graft.ops.VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames)
          }
        (id, bytes)
      })
  }

  /** The closed-form per-frame hashes of [[videoR1Payload]] — ends
    * at `r1set(doc_id, hash_hi, hash_lo)`, the distinct frame-hash
    * set per ok container. The twin computes the pattern directly
    * (base XOR prefix-flip per frame) while Spark really decodes
    * every frame's pixels — independent derivations by construction.
    */
  private lazy val sqlVideoR1Ctes: String =
    """r1p AS (SELECT doc_id, doc_id % 50 AS g,
      |  CASE WHEN (doc_id // 50) % 10 <= 6 THEN (doc_id // 50) % 10
      |    ELSE 8 * ((doc_id // 50) % 10 - 6) END AS nfv
      |  FROM documents WHERE doc_id % 11 <> 0),
      |r1f AS (SELECT doc_id, g, nfv, unnest(range(0, 3 + g % 3)) AS f
      |  FROM r1p),
      |r1b AS (SELECT doc_id, g, nfv, f, unnest(range(0, 64)) AS p
      |  FROM r1f),
      |r1bit AS (SELECT doc_id, f, p,
      |  CASE WHEN ((35 * (p - g - 5 * f)) % 64 + 64) % 64 < nfv
      |    THEN 1 - ((g * 37 + f * 53 + p * 17) % 97) % 2
      |    ELSE ((g * 37 + f * 53 + p * 17) % 97) % 2 END AS bit
      |  FROM r1b),
      |r1h AS (SELECT doc_id, f,
      |  CAST(sum(CASE WHEN bit = 1 AND p >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(p - 32 AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND p < 32
      |    THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
      |    AS BIGINT) AS hash_lo
      |  FROM r1bit GROUP BY doc_id, f),
      |r1set AS (SELECT DISTINCT doc_id, hash_hi, hash_lo FROM r1h)"""
      .stripMargin

  /** Media-gate state: three doc_id%3 micro-batches of the
    * brightness-variant images through the stateful perceptual
    * seen-set, with a compaction BETWEEN batches 1 and 2 (the
    * [[urlGateStateDir]] shape — the cross-compaction probe is
    * oracle-pinned).
    */
  private def mediaGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("mediagate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        import s.implicits._
        val gate = new graft.streaming.MediaGate(s, root)
        val docs = dhashPayload(s, d)
        gate.applyBatch(docs.filter($"_1" % 3 === 0), 0L)
        gate.applyBatch(docs.filter($"_1" % 3 === 1), 1L)
        gate.compact(currentBatchId = 1L)
        gate.vacuum(currentBatchId = 1L)
        gate.applyBatch(docs.filter($"_1" % 3 === 2), 2L)
    }

  /** Near-dup media-gate state: three doc_id%3 micro-batches of the
    * controlled-distance images through the stateful Hamming-≤6
    * seen-set, compaction between batches 1 and 2 (the
    * [[mediaGateStateDir]] shape at the near-dup tier).
    */
  private def nearDupGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("ndmediagate|" + s.sparkContext.applicationId + "|" +
        d) { root =>
      import s.implicits._
      val gate = new graft.streaming.NearDupMediaGate(s, root)
      val docs = dhashNearPayload(s, d)
      gate.applyBatch(docs.filter($"_1" % 3 === 0), 0L)
      gate.applyBatch(docs.filter($"_1" % 3 === 1), 1L)
      gate.compact(currentBatchId = 1L)
      gate.vacuum(currentBatchId = 1L)
      gate.applyBatch(docs.filter($"_1" % 3 === 2), 2L)
    }

  /** Video-gate state: three doc_id%3 micro-batches of the
    * controlled-distance CLIPS ([[videoR1Payload]]) through the
    * stateful majority-of-frames Hamming-≤6 seen-set, compaction
    * between batches 1 and 2 (the [[nearDupGateStateDir]] shape at
    * the clip tier — StandingGate consumer #7).
    */
  private def videoGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("videogate|" + s.sparkContext.applicationId + "|" +
        d) { root =>
      import s.implicits._
      val gate = new graft.streaming.VideoGate(s, root)
      val docs = videoR1Payload(s, d)
      gate.applyBatch(docs.filter($"_1" % 3 === 0), 0L)
      gate.applyBatch(docs.filter($"_1" % 3 === 1), 1L)
      gate.compact(currentBatchId = 1L)
      gate.vacuum(currentBatchId = 1L)
      gate.applyBatch(docs.filter($"_1" % 3 === 2), 2L)
    }

  /** Per-frame dHash replayed in SQL over the [[videoFpPayload]]
    * synthesis — ends at `vhs(doc_id, f, hash_hi, hash_lo)` for ok
    * frames (corrupt frames/containers union in per query). Shared
    * by mm_video_dhash and mm_video_dedup.
    */
  private lazy val sqlVideoDHashCtes: String =
    """vp AS (SELECT doc_id, doc_id % 50 AS g, (doc_id // 50) % 10 AS o
      |  FROM documents),
      |vfr AS (SELECT doc_id, g, o, unnest(range(0, 1 + g % 4)) AS f
      |  FROM vp WHERE doc_id % 11 <> 0),
      |vok AS (SELECT doc_id, g, o, f,
      |  3 + (g + f) % 5 AS w, 2 + (g + 2 * f) % 4 AS h FROM vfr
      |  WHERE NOT (g % 7 = 3 AND f = 0)),
      |vgx AS (SELECT *, unnest(range(0, 9)) AS xx FROM vok),
      |vgxy AS (SELECT *, unnest(range(0, 8)) AS yy FROM vgx),
      |vsm AS (SELECT doc_id, g, o, f, xx, yy,
      |  (xx * w) // 9 AS sx, (yy * h) // 8 AS sy FROM vgxy),
      |vgr AS (SELECT doc_id, f, xx, yy,
      |  (299 * ((g + 7 * f + 31 * sx + 17 * sy) % 246 + o)
      |   + 587 * ((5 * g + 11 * f + 3 * sx) % 246 + o)
      |   + 114 * ((3 * g + 13 * f + 5 * sy) % 246 + o)) // 1000 AS gray
      |  FROM vsm),
      |vbt AS (SELECT doc_id, f, yy, xx,
      |  CASE WHEN lead(gray) OVER (PARTITION BY doc_id, f, yy
      |    ORDER BY xx) > gray THEN 1 ELSE 0 END AS bit FROM vgr),
      |vhs AS (SELECT doc_id, f,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx >= 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx - 32 AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN bit = 1 AND yy * 8 + xx < 32
      |    THEN CAST(1 AS BIGINT) << CAST(yy * 8 + xx AS INT)
      |    ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM vbt WHERE xx < 8 GROUP BY doc_id, f)""".stripMargin

  /** Streaming heavy-hitter census (doc_heavy_stream_e2e): per-bucket
    * MG capacity, key-space buckets, and the confirmed top-k. NOTE:
    * interpolated into the twin SQL — must precede `all`.
    */
  private val HeavyStreamK = 15
  private val HeavyStreamCap = 256
  private val HeavyStreamBuckets = 8

  /** One heavy-hitter-stream state dir per (session, dataset): the
    * e2e query drives a REAL structured stream (file source →
    * flatMapGroupsWithState MG state → foreachBatch summary sink)
    * over the corpus token stream in three batch files, then
    * exact-confirms the final snapshot against the full corpus —
    * side-effecting, so bench reps reuse the first run's state.
    */
  private def heavyStreamStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("heavystream|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        import graft.streaming.StreamOps
        val toks = load(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        // three ingest batches by doc id — written as separate files,
        // replayed by the file source in micro-batches
        (0L until 3L).foreach { b =>
          StreamOps.mgBucketize(toks.filter(col("doc_id") % 3 === b),
              col("tok"), HeavyStreamBuckets)
            .toDF().write.mode("append").parquet(s"$root/in")
        }
        val in = s.readStream
          .schema("bucket INT, key STRING")
          .option("maxFilesPerTrigger", 8)
          .parquet(s"$root/in")
        val sess = s
        import sess.implicits._
        val q = StreamOps.mgHeavyStream(in.as[StreamOps.MgIn],
            HeavyStreamCap)
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[StreamOps.MgBucketSummary],
                _: Long) =>
              b.toDF().write.mode("append").parquet(s"$root/out")
          }
          .start()
        q.processAllAvailable()
        q.stop()
        graft.ops.Sketch.heavyHittersExactFromSummaries(
            toks, col("tok"), s.read.parquet(s"$root/out"), HeavyStreamK)
          .write.parquet(s"$root/result")
    }

  /** The drift pipeline as a reusable CTE prefix ending in
    * `drift(bucket, c_ref, c_cand, psi_e9, kl_e9)` — shared by the
    * per-bucket table and the one-row summary so the two cannot
    * drift. Kept IEEE-identical to [[graft.ops.Drift]]: smoothed p's
    * by one division each, ratio, ln, multiply, round.
    */
  private val sqlDriftCtes: String =
    s"""dt AS (SELECT CAST(substr(source, 4) AS BIGINT) < 10 AS r,
       |  $sqlToks AS w FROM documents),
       |dtk AS (SELECT r, unnest(w) AS tok FROM dt),
       |dhb AS (SELECT r, ${sqlPhash("tok")} % $DriftBuckets AS bucket
       |  FROM dtk),
       |dc AS (SELECT bucket,
       |  sum(CASE WHEN r THEN 1 ELSE 0 END) AS c_ref,
       |  sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS c_cand
       |  FROM dhb GROUP BY 1),
       |dtot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS tr,
       |  CAST(sum(c_cand) AS BIGINT) AS tc FROM dc),
       |dsk AS (SELECT unnest(range(0, $DriftBuckets)) AS bucket),
       |df0 AS (SELECT dsk.bucket, coalesce(dc.c_ref, 0) AS c_ref,
       |  coalesce(dc.c_cand, 0) AS c_cand
       |  FROM dsk LEFT JOIN dc USING (bucket)),
       |drift AS (SELECT bucket, CAST(c_ref AS BIGINT) AS c_ref,
       |  CAST(c_cand AS BIGINT) AS c_cand,
       |  CAST(round(((c_cand + 1.0) / CAST(tc + $DriftBuckets AS DOUBLE) -
       |      (c_ref + 1.0) / CAST(tr + $DriftBuckets AS DOUBLE)) *
       |    ln(((c_cand + 1.0) / CAST(tc + $DriftBuckets AS DOUBLE)) /
       |       ((c_ref + 1.0) / CAST(tr + $DriftBuckets AS DOUBLE))) *
       |    1000000000) AS BIGINT) AS psi_e9,
       |  CAST(round((c_cand + 1.0) / CAST(tc + $DriftBuckets AS DOUBLE) *
       |    ln(((c_cand + 1.0) / CAST(tc + $DriftBuckets AS DOUBLE)) /
       |       ((c_ref + 1.0) / CAST(tr + $DriftBuckets AS DOUBLE))) *
       |    1000000000) AS BIGINT) AS kl_e9
       |  FROM df0, dtot)""".stripMargin

  /** One drift-monitor state dir per (session, dataset): the e2e
    * query is side-effecting (setReference + two applyBatch runs), so
    * bench reps reuse the first run's state via [[TempState]].
    */
  private def driftGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("driftgate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val mon = new graft.streaming.DriftMonitor(s, root,
          DriftBuckets, DriftHotPsiE9)
        val docs = load(s, d, "documents")
        val isRef = expr("cast(substring(source, 4) as bigint) < 10")
        mon.setReference(docs.filter(isRef), col("text"))
        val cand = docs.filter(!isRef)
        mon.applyBatch(cand.filter(col("doc_id") % 2 === 0), col("text"), 0L)
        mon.applyBatch(cand.filter(col("doc_id") % 2 === 1), col("text"), 1L)
    }

  /** Per-batch gate-verdict CTEs for a DriftMonitor twin: batch `b`
    * of the candidate bucket stream `mhb(par, bucket)` (par = batch
    * id) priced against shared reference counts `rc(bucket, c_ref)` /
    * `rtot(tr)` over the bucket skeleton `dsk(bucket)` — the same
    * smoothing/quantization arithmetic as [[sqlDriftCtes]], totals
    * per BATCH. Parametrized on the bucket count so the token, score,
    * and embedding gate twins all replay ONE verdict formulation.
    */
  private[queries] def sqlGateBatchCtes(b: Int, buckets: Int,
      hotPsiE9: Long): String =
    s"""cb$b AS (SELECT bucket, count(*) AS c_cand FROM mhb
       |  WHERE par = $b GROUP BY 1),
       |ct$b AS (SELECT CAST(count(*) AS BIGINT) AS tc FROM mhb
       |  WHERE par = $b),
       |f$b AS (SELECT dsk.bucket, coalesce(rc.c_ref, 0) AS c_ref,
       |  coalesce(cb$b.c_cand, 0) AS c_cand
       |  FROM dsk LEFT JOIN rc USING (bucket)
       |  LEFT JOIN cb$b USING (bucket)),
       |dr$b AS (SELECT bucket, CAST(c_cand AS BIGINT) AS c_cand,
       |  CAST(round(((c_cand + 1.0) / CAST(tc + $buckets AS DOUBLE) -
       |      (c_ref + 1.0) / CAST(tr + $buckets AS DOUBLE)) *
       |    ln(((c_cand + 1.0) / CAST(tc + $buckets AS DOUBLE)) /
       |       ((c_ref + 1.0) / CAST(tr + $buckets AS DOUBLE))) *
       |    1000000000) AS BIGINT) AS psi_e9,
       |  CAST(round((c_cand + 1.0) / CAST(tc + $buckets AS DOUBLE) *
       |    ln(((c_cand + 1.0) / CAST(tc + $buckets AS DOUBLE)) /
       |       ((c_ref + 1.0) / CAST(tr + $buckets AS DOUBLE))) *
       |    1000000000) AS BIGINT) AS kl_e9
       |  FROM f$b, rtot, ct$b),
       |v$b AS (SELECT CAST($b AS BIGINT) AS batch,
       |  (SELECT tc FROM ct$b) AS n_cand,
       |  CAST(sum(psi_e9) AS BIGINT) AS psi_e9,
       |  CAST(sum(kl_e9) AS BIGINT) AS kl_e9,
       |  CAST(sum(CASE WHEN psi_e9 > $hotPsiE9 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hot_buckets,
       |  coalesce((SELECT string_agg(CAST(bucket AS VARCHAR), ','
       |    ORDER BY bucket) FROM dr$b WHERE psi_e9 > $hotPsiE9), '')
       |    AS hot_buckets
       |  FROM dr$b)""".stripMargin

  /** The NB train+score pipeline as a reusable CTE prefix ending in
    * `sc(doc_id, pos, score_e6)` — the classifier-eval queries
    * (doc_nb_auc, doc_nb_calibration) grade this scorer. Kept
    * textually in sync with doc_nb_score's inline twin.
    */
  private val sqlNbScoreCtes: String =
    """d0 AS (SELECT doc_id, lang = 'en' AS pos,
      |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS w FROM documents),
      |t AS (SELECT doc_id, pos, unnest(w) AS tok FROM d0),
      |v AS (SELECT tok,
      |  sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
      |  sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
      |  FROM t GROUP BY tok),
      |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS vv FROM v),
      |pr AS (SELECT CAST(round(ln(
      |    CAST(count(*) FILTER (WHERE pos) AS DOUBLE) /
      |    CAST(count(*) FILTER (WHERE NOT pos) AS DOUBLE)) * 1000000)
      |  AS BIGINT) AS prior_e6 FROM d0),
      |p AS (SELECT tok, CAST(round(
      |    (ln((cp + 1.0) / CAST(tp + vv AS DOUBLE)) -
      |     ln((cn + 1.0) / CAST(tn + vv AS DOUBLE))) * 1000000)
      |  AS BIGINT) AS llr_e6 FROM v, tot),
      |s AS (SELECT t.doc_id,
      |  CAST(sum(p.llr_e6) AS BIGINT) AS llr_e6
      |  FROM t JOIN p USING (tok) GROUP BY t.doc_id),
      |sc AS (SELECT d0.doc_id, d0.pos,
      |  coalesce(s.llr_e6, 0) + pr.prior_e6 AS score_e6
      |  FROM d0 LEFT JOIN s USING (doc_id), pr)""".stripMargin

  /** The (doc_id, pos, score_e6) frame both eval queries grade —
    * the Spark twin of [[sqlNbScoreCtes]].
    */
  private def nbScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = load(s, d, "documents")
    docs.select(col("doc_id"), (col("lang") === "en").as("pos"))
      .join(TextOps.naiveBayesLogOdds(docs, col("doc_id"), col("text"),
        col("lang") === "en")
        .select(col("id").as("doc_id"), col("score_e6")), "doc_id")
  }

  /** doc_span_gate_e2e admission threshold: a document whose
    * duplicated-span coverage exceeds this fraction is rejected (the
    * corpus is bimodal here — near-0 or near-1 coverage — so any
    * mid-range cut yields the same non-degenerate verdict set: 12
    * rejects in batch 0, 22 in batch 1 at sf0.01).
    */
  private val SpanGateFrac = 0.5

  /** One span-gate state dir per (session, dataset): the e2e query is
    * side-effecting (two applyBatch runs), so bench reps reuse the
    * first run's state via [[TempState]].
    */
  private def spanGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("spangate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val gate = new graft.streaming.SpanGate(s, root, w = DupSpanW,
          maxDupFrac = SpanGateFrac)
        val docs = load(s, d, "documents").select(col("doc_id"), col("text"))
        gate.applyBatch(docs.filter(col("doc_id") % 2 === 0), 0L)
        gate.applyBatch(docs.filter(col("doc_id") % 2 === 1), 1L)
    }

  /** doc_dup_spans window width in tokens: a duplicated passage must
    * cover at least one full w-window to register (Lee et al.'s
    * substring dedup uses 50 BPE tokens; 16 word tokens is the
    * equivalent granularity for this corpus's ~54-token documents —
    * 1.7k duplicated windows merging into 45 maximal spans at
    * sf0.01).
    */
  private val DupSpanW = 16

  // prefix-blocked edit-distance join geometry: candidates share the
  // first 12 normalized chars exactly (430 blocks, max size 4, 86
  // candidate pairs at sf0.01), scored on the first 48 chars at
  // lev <= 6; blocks above 64 members are dropped whole (boilerplate)
  private val FuzzyBlockLen = 12
  private val FuzzyPrefixLen = 48
  private val FuzzyMaxDist = 6
  private val FuzzyBlockCap = 64

  /** Positional-window front half shared by every span twin:
    * `g(doc_id, s, h)` — every document's w-token windows with
    * 1-based start positions and the portable window hash.
    */
  private lazy val sqlWindowCtes: String =
    s"""t AS (SELECT doc_id, $sqlToks AS w FROM documents),
       |u AS (SELECT doc_id, unnest(range(1, len(w) - $DupSpanW + 2)) AS s, w
       |  FROM t),
       |g AS (SELECT doc_id, s,
       |  ${sqlPhash(s"array_to_string(w[s : s + ${DupSpanW - 1}], ' ')")} AS h
       |  FROM u)""".stripMargin

  /** The island-merge tail over a caller-supplied `hits<sfx>(doc_id,
    * s)` CTE: maximal spans in `sp<sfx>` (merge on overlap OR
    * adjacency: new island when s > running max end) — suffixed so
    * the span-gate twin can run it once per batch.
    */
  private def sqlSpanMergeCtes(sfx: String): String =
    s"""m$sfx AS (SELECT doc_id, s, max(s + $DupSpanW) OVER (PARTITION BY doc_id
       |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM hits$sfx),
       |f$sfx AS (SELECT doc_id, s,
       |  CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ns FROM m$sfx),
       |isl$sfx AS (SELECT doc_id, s,
       |  sum(ns) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM f$sfx),
       |sp$sfx AS (SELECT doc_id, min(s) AS span_start,
       |  max(s) + $DupSpanW - min(s) AS span_len_toks
       |  FROM isl$sfx GROUP BY doc_id, grp)""".stripMargin

  /** Shared DuckDB dup-span CTE chain (positional w-windows → corpus
    * occurrence counts → duplicated hits → island merge), ending in
    * `sp(doc_id, span_start, span_len_toks)` — one text so the span
    * list and the per-doc roll-up replay identical window hashing and
    * merge semantics.
    */
  private lazy val sqlDupSpanCtes: String =
    s"""$sqlWindowCtes,
       |c AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |hits AS (SELECT doc_id, s FROM g JOIN c USING (h)),
       |${sqlSpanMergeCtes("")}""".stripMargin

  /** The unrolled character-entropy twin of TextOps.charEntropy: the
    * 37 per-character counts as length/replace expressions, each
    * transcendental quantized once to micro-nats — interpolated from
    * the SAME alphabet constant the Spark side unrolls, so the two
    * cannot drift.
    */
  private lazy val sqlCharEntropy: String = {
    val ab = graft.ops.TextOps.EntropyAlphabet
    val counts = ab.indices.map(i =>
      s"CAST(length(t) - length(replace(t, '${ab(i)}', '')) AS BIGINT) AS c_$i")
      .mkString(",\n  ")
    val sumN = ab.indices.map(i => s"c_$i").mkString(" + ")
    val nlogn = ab.indices.map(i =>
      s"CASE WHEN c_$i > 1 THEN CAST(round(CAST(c_$i AS DOUBLE) * " +
        s"ln(CAST(c_$i AS DOUBLE)) * 1000000) AS BIGINT) " +
        s"ELSE CAST(0 AS BIGINT) END")
      .mkString("\n    + ")
    s"""WITH t0 AS (SELECT doc_id, lower(text) AS t FROM documents),
       |cc AS (SELECT doc_id,
       |  $counts
       |  FROM t0),
       |s1 AS (SELECT doc_id, ($sumN) AS n_alpha,
       |  ($nlogn) AS nlogn_e6 FROM cc),
       |s2 AS (SELECT doc_id, n_alpha, nlogn_e6,
       |  CASE WHEN n_alpha > 1 THEN
       |    CAST(round(ln(CAST(n_alpha AS DOUBLE)) * 1000000) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS ln_n_e6 FROM s1)
       |SELECT doc_id, n_alpha, nlogn_e6, ln_n_e6,
       |  CASE WHEN n_alpha > 0 THEN CAST(ln_n_e6 AS DOUBLE) -
       |    CAST(nlogn_e6 AS DOUBLE) / CAST(n_alpha AS DOUBLE)
       |  ELSE 0.0 END AS entropy_e6
       |FROM s2 ORDER BY doc_id""".stripMargin
  }

  // temperature-sample target ratio and chunking geometry, shared
  // with the SQL twins (literals in only one place by construction)
  private val TempNum = 1
  private val TempDen = 4
  private val ChunkWindow = 32
  private val ChunkStride = 24

  /** doc_chunk_dedup granularity: 4-token chunks, dropped when seen
    * in more than 2 documents (47 distinct boilerplate chunks at
    * sf0.01 — enough to exercise removal without gutting the corpus).
    */
  private val ChunkDedupW = 4
  private val ChunkDedupMaxDf = 2

  /** doc_weighted_sample size (fixed sample, corpus-size-free). */
  private val WeightedSampleK = 64

  /** doc_weighted_sample_by_source per-stratum sample size. */
  private val StratumSampleK = 16

  /** doc_token_cmsketch shape: 4×256 counters, top-16 tokens probed. */
  private val CmDepth = 4
  private val CmWidth = 256
  private val CmProbeK = 16
  private val ShuffleSeed = 42L
  private val ShuffleShards = 16
  // sequence packing (doc_pack_sequences / doc_pack_stats) — NOTE:
  // interpolated into the twin SQL, must precede `all`
  private val PackSeqLen = 256L
  private val PackShards = 8
  // per-query rank-fusion constant (doc_hybrid_rrf_multi) — the
  // standard RRF k0, same value as EmbQueries' single-query fusion
  private val RrfK0M = 60
  private val IndexBlockDocs = 128L
  private val EvalMod = 7
  // char-4-gram Jaccard pair generation, shared by the full pair query
  // (doc_ngram_jaccard) and the per-doc best-match reduction
  // (doc_best_match) — ONE definition of block keys, threshold, and
  // the jaccard expression on both the Spark and SQL sides
  private lazy val ngramPairSqlCte: String =
    s"""g AS (SELECT doc_id, lang, source,
       |  list_distinct(list_transform(
       |    list_distinct(list_transform(range(1, length(text) - 2),
       |      i -> substr(text, i::INT, 4))), ng -> ${sqlPhash("ng")})) AS s
       |  FROM documents WHERE length(text) >= 4),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    nullif(CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 0.0)
       |    AS jac
       |FROM g a JOIN g b
       |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    nullif(CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 0.0)
       |    >= 0.3)""".stripMargin
  /** (id_a, id_b, jac unrounded) at jac >= 0.3 within (lang, source)
    * blocks; the Spark twin of [[ngramPairSqlCte]]'s `p`. The
    * char-ngram hash-set projection is the dominant cost and is read
    * FOUR times downstream (token-df aggregate, prefix explode, both
    * verify sides) — persisted once; the harness's per-query
    * clearCache releases it, and a production pipeline would keep it
    * as a materialized intermediate table anyway.
    */
  private def ngramJaccardPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val g = load(s, d, "documents")
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(array_distinct(transform(
          array_distinct(charNgrams(col("text"), 4)),
          ng => portableHash(ng)))).as("s"))
      .persist()
    val cands = Dedup.prefixFilterCandidates(g, "doc_id", "s",
      Seq("lang", "source"), tNum = 3, tDen = 10)
    val a = g.select(col("doc_id").as("id_a"), col("s").as("s_a"))
    val b = g.select(col("doc_id").as("id_b"), col("s").as("s_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("jac", Dedup.jaccardSorted(col("s_a"), col("s_b")))
      .filter(col("jac") >= 0.3)
      .select(col("id_a"), col("id_b"), col("jac"))
  }
  // boolean-decontamination oracle, shared VERBATIM by the exact plan
  // (doc_decontaminate) and the Bloom-prefiltered plan
  // (doc_decontaminate_bloom): the prefilter may only prune the
  // shuffle, never change the verdict, and two queries hashing against
  // one SQL is the proof
  private lazy val decontamBoolSql: String = {
    val sh8 = (1 to 8).map(o => s"w[i+$o]").mkString(", ")
    s"""WITH base AS (SELECT doc_id, doc_id % $EvalMod = 0 AS is_eval,
       |    $sqlToks AS w FROM documents),
       |sh AS (SELECT doc_id, is_eval, unnest(list_distinct(list_transform(
       |    list_distinct(list_transform(range(0, greatest(len(w) - 7, 0)),
       |      i -> concat_ws(' ', $sh8))), s -> ${sqlPhash("s")}))) AS h
       |  FROM base),
       |ev AS (SELECT DISTINCT h FROM sh WHERE is_eval),
       |c AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.h = ev.h
       |      WHERE NOT s.is_eval)
       |SELECT b.doc_id, b.doc_id IN (SELECT doc_id FROM c) AS contaminated
       |FROM base b WHERE NOT b.is_eval ORDER BY b.doc_id""".stripMargin
  }
  // doc-id sample rate for the approximate-df n-gram variant, shared
  // with the SQL twin. 4 (not a production-scale 64+) because the
  // fixture's head terms have df ≈ 7 — a sparser sample would zero
  // most estimates and leave the oracle weakly discriminating
  private val NgramSampleRate = 4
  // token-budget mixture recipe (target shares by lang + token
  // budget), shared with the SQL twin; fr/es intentionally absent —
  // an unlisted stratum must sample at rate 0
  private val MixShares: Seq[(String, Long)] =
    Seq("en" -> 7L, "zh" -> 2L, "de" -> 1L)
  private val MixBudgetTokens = 4000L
  // span-overlap geometry: 3-token spans, boilerplate df cap, minimum
  // shared spans — the cap is chosen so the planted duplicate group
  // (~corpus/37 docs) SURVIVES at the sf0.01 oracle scale but trips
  // the boilerplate cutoff at sf0.1+, exercising both paths
  private val SpanDfCap = 40
  private val SpanMinShared = 2
  // boilerplate-coverage document-frequency cutoff: the sf0.01 corpus
  // tops out at df=7 (151 shingles at df>=5), so 5 keeps both the
  // frequent and non-frequent branches live at the oracle scale
  private val BoilerMinDf = 5L
  // source-affinity PageRank: 3-token shingles, a rarity cap the
  // sf0.01 corpus actually trips (source counts run 1-7 there, so 5
  // keeps both the kept and the capped-out branches live), 3 fixed
  // damped rounds
  private val PrShingleW = 3
  private val PrSrcCap = 5
  private val PrIters = 3

  /** Shared oracle CTE prefix for the graph family: the rare-shingle
    * source-affinity edge list, ending in `{p}pairs (sa, sb, w)` with
    * sa < sb — the twin of GraphOps.sharedShingleEdges. The prefix
    * parameter exists so the composed syndication-suspects twin can
    * co-reside in one WITH with the minhash/component family (whose
    * `t` and `e` names would otherwise collide); the standalone graph
    * twins pass "".
    */
  private def affinityPairsCtes(p: String): String =
    s"""${p}t AS (SELECT source, $sqlToks AS w FROM documents),
       |${p}g0 AS (SELECT source, unnest(list_distinct(list_transform(
       |    list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
       |    sp -> ${sqlPhash("sp")}))) AS h FROM ${p}t),
       |${p}g AS (SELECT DISTINCT source, h FROM ${p}g0),
       |${p}keep AS (SELECT h FROM ${p}g GROUP BY h
       |  HAVING count(*) BETWEEN 2 AND $PrSrcCap),
       |${p}f AS (SELECT g.source, g.h FROM ${p}g g
       |  JOIN ${p}keep keep ON g.h = keep.h),
       |${p}pairs AS (SELECT a.source AS sa, b.source AS sb,
       |  CAST(count(*) AS BIGINT) AS w
       |  FROM ${p}f a JOIN ${p}f b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)""".stripMargin

  /** The PageRank trajectory CTEs over `{p}pairs` — {p}e/n/nn/ow and
    * {p}p0..{p}p$PrIters; the final ranks are `{p}p$PrIters (s, pr)`.
    * One builder shared by doc_source_pagerank and the suspects
    * composition so the trajectory cannot drift between them.
    */
  private def prTrajectoryCtes(p: String): String = {
    val iterCtes = (1 to PrIters).map { k =>
      s"""${p}c$k AS (SELECT e.t AS s, CAST(sum(CAST(round(
         |    CAST(p${k - 1}.pr AS DOUBLE) * e.w / ow.wt * 1e3) AS BIGINT))
         |  AS BIGINT) AS c
         |  FROM ${p}e e JOIN ${p}p${k - 1} p${k - 1} ON e.s = p${k - 1}.s
         |    JOIN ${p}ow ow ON e.s = ow.s GROUP BY e.t),
         |${p}p$k AS (SELECT n.s, CAST(round((1e0 - 0.85e0) / nn.n * 1e9
         |    + 0.85e0 * coalesce(c$k.c, 0) / 1e3) AS BIGINT) AS pr
         |  FROM ${p}n n LEFT JOIN ${p}c$k c$k ON n.s = c$k.s, ${p}nn nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}e AS (SELECT sa AS s, sb AS t, w FROM ${p}pairs
       |  UNION ALL SELECT sb AS s, sa AS t, w FROM ${p}pairs),
       |${p}n AS (SELECT DISTINCT s FROM ${p}e),
       |${p}nn AS (SELECT count(*) AS n FROM ${p}n),
       |${p}ow AS (SELECT s, sum(w) AS wt FROM ${p}e GROUP BY s),
       |${p}p0 AS (SELECT n.s, CAST(round(1e9 / nn.n) AS BIGINT) AS pr
       |  FROM ${p}n n, ${p}nn nn),
       |$iterCtes""".stripMargin
  }

  /** The triangle/LCC CTEs over `{p}pairs`, ending in
    * `{p}tric (source, deg, tri, lcc_e6)` — degree-ordered
    * orientation, wedge join, directed closure, one row per graph
    * node. Shared by doc_affinity_triangles and the suspects
    * composition.
    */
  private def triangleCtes(p: String): String =
    s"""${p}und AS (SELECT sa AS s FROM ${p}pairs
       |  UNION ALL SELECT sb FROM ${p}pairs),
       |${p}deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
       |  FROM ${p}und GROUP BY s),
       |${p}ed AS (SELECT
       |  CASE WHEN da.deg < db.deg
       |    OR (da.deg = db.deg AND p.sa < p.sb)
       |    THEN p.sa ELSE p.sb END AS u,
       |  CASE WHEN da.deg < db.deg
       |    OR (da.deg = db.deg AND p.sa < p.sb)
       |    THEN p.sb ELSE p.sa END AS v
       |  FROM ${p}pairs p JOIN ${p}deg da ON p.sa = da.s
       |    JOIN ${p}deg db ON p.sb = db.s),
       |${p}tri0 AS (SELECT e1.u, e1.v AS y, e2.v AS z
       |  FROM ${p}ed e1 JOIN ${p}ed e2 ON e1.u = e2.u AND e1.v <> e2.v
       |  WHERE EXISTS (SELECT 1 FROM ${p}ed e3
       |    WHERE e3.u = e1.v AND e3.v = e2.v)),
       |${p}pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |    SELECT u AS node FROM ${p}tri0
       |    UNION ALL SELECT y FROM ${p}tri0
       |    UNION ALL SELECT z FROM ${p}tri0)
       |  GROUP BY node),
       |${p}tric AS (SELECT d.s AS source, d.deg,
       |  coalesce(pn.tri, 0) AS tri,
       |  CASE WHEN d.deg >= 2 THEN CAST(round(2e6 * coalesce(pn.tri, 0)
       |    / (d.deg * (d.deg - 1))) AS BIGINT) ELSE 0 END AS lcc_e6
       |  FROM ${p}deg d LEFT JOIN ${p}pn pn ON d.s = pn.node)"""
      .stripMargin

  /** The synthetic corpus has NO byte-identical documents, so an
    * exact-dedup verdict over it is vacuous (is_canonical always
    * true). Like doc_pii_redact's planted PII, the exact-dedup
    * fixtures replace every DupMod-th document's text with one shared
    * boilerplate sentence (the real-world analog: template pages),
    * giving the canonical-selection logic a real duplicate group to
    * resolve. The sentence passes the curation quality gates (26
    * tokens ≥ 20; 2× 'the' ⇒ stopword ratio 0.077 ∈ (0.02, 0.5];
    * high distinct ratio), so in the pipeline the planted docs fail
    * on canonicity — and, being identical, the non-canonical ones are
    * flagged near-dup as well — never on a quality gate.
    */
  private val DupMod = 37
  private val DupSentinel =
    "the quick brown fox jumps over the lazy dog while zebra owl mole " +
      "fits nine boxed jugs from my favorite old farm yard gate post lamp"
  private def plantedDocs(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("text",
      when(pmod(col("doc_id"), lit(DupMod.toLong)) === 1, lit(DupSentinel))
        .otherwise(col("text")))
  private val sqlPlantedDocs: String =
    s"""planted AS (SELECT * REPLACE (CASE WHEN doc_id % $DupMod = 1
       |  THEN '$DupSentinel' ELSE text END AS text) FROM documents)""".stripMargin

  /** Synthesized crawl page around each document's text: head with
    * style + script (must be REMOVED wholesale), a comment, an h1 and
    * the body paragraph, a navigation div of three anchors (the
    * boilerplate signal), and every third doc an extra content block
    * with one inline anchor. Built by the SAME concat on both sides —
    * the twin interpolates [[sqlHtmlSynth]].
    */
  private def htmlPayload: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>D"), col("doc_id"),
    lit("</title><style type=\"text/css\">.m{color:red}</style>" +
      "<script>var x = "), col("doc_id"),
    lit("; if (x > 0) { x += 1; }</script></head><body><!-- synth "),
    col("doc_id"),
    lit(" --><h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
    lit("</p><div><a href=\"/a\">home page</a> &amp; " +
      "<a href=\"/b\">about us</a>&nbsp;|&nbsp;" +
      "<a href=\"/c\">contact</a></div>"),
    when(col("doc_id") % 3 === 0,
      concat(lit("<div>"), col("source"),
        lit(" extra block text with an <a href=\"/e\">anchor</a> " +
          "inside</div>"))).otherwise(lit("")),
    lit("</body></html>"))

  private val sqlHtmlSynth: String =
    "'<html><head><title>D' || doc_id || '</title>" +
      "<style type=\"text/css\">.m{color:red}</style>" +
      "<script>var x = ' || doc_id || '; if (x > 0) { x += 1; }" +
      "</script></head><body><!-- synth ' || doc_id || ' -->" +
      "<h1>Doc ' || doc_id || '</h1><p>' || text || '</p>" +
      "<div><a href=\"/a\">home page</a> &amp; " +
      "<a href=\"/b\">about us</a>&nbsp;|&nbsp;" +
      "<a href=\"/c\">contact</a></div>' || " +
      "CASE WHEN doc_id % 3 = 0 THEN '<div>' || source || " +
      "' extra block text with an <a href=\"/e\">anchor</a> " +
      "inside</div>' ELSE '' END || '</body></html>'"

  /** The twin of [[graft.ops.Html]]'s preClean: comments, then script
    * and style elements, same regex constants.
    */
  private def sqlHtmlClean(x: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($x, " +
      s"'${graft.ops.Html.CommentRe}', '', 'g'), " +
      s"'${graft.ops.Html.ScriptRe}', '', 'g'), " +
      s"'${graft.ops.Html.StyleRe}', '', 'g')"

  /** The twin of Html's normText: tag strip → the entity table in its
    * fixed order → whitespace collapse → trim. Shares the constants
    * by interpolation.
    */
  private def sqlHtmlNorm(x: String): String = {
    val tagless =
      s"regexp_replace($x, '${graft.ops.Html.TagRe}', '', 'g')"
    val decoded = graft.ops.Html.Entities.foldLeft(tagless) {
      case (acc, (k, v)) =>
        val rep = if (v == "'") "chr(39)" else s"'$v'"
        s"replace($acc, '$k', $rep)"
    }
    s"trim(regexp_replace($decoded, '${graft.ops.Html.WsRe}', ' ', 'g'))"
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("doc_token_stats",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |    / nullif(CAST(len(w) AS DOUBLE), 0.0) AS avg_token_len
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.withTokenStats(load(s, d, "documents"), col("text"))
        .select("doc_id", "n_tokens", "n_distinct", "avg_token_len")
        .orderBy("doc_id")
    },

    QueryDef("doc_token_estimate",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
        |    AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_ws_tokens"),
          TextOps.tokenEstimate(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    QueryDef("doc_quality",
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, x -> list_contains(
         |    ${TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")}, x)))
         |    AS DOUBLE) / nullif(CAST(len(w) AS DOUBLE), 0.0) AS stopword_ratio,
         |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n]', '', 'g'))
         |    AS DOUBLE) / nullif(CAST(length(text) AS DOUBLE), 0.0) AS punct_density,
         |  CAST(len(list_distinct(w)) AS DOUBLE)
         |    / nullif(CAST(len(w) AS DOUBLE), 0.0) AS type_token_ratio
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val df = load(s, d, "documents").withColumn("toks", tokens(col("text")))
      df.select(col("doc_id"),
          TextOps.stopwordRatio(col("toks")).as("stopword_ratio"),
          TextOps.punctDensity(col("text")).as("punct_density"),
          (size(array_distinct(col("toks"))).cast("double") /
            nullif(size(col("toks")).cast("double"), lit(0.0d)))
            .as("type_token_ratio"))
        .orderBy("doc_id")
    },

    // one-pass corpus report: the panel a pipeline run prints first.
    // All integer sums with ONE final division (exact across engines —
    // never an engine-ordered double mean)
    QueryDef("doc_corpus_stats",
      s"""WITH t AS (SELECT doc_id, text, lang, source, $sqlToks AS w
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(w)) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS avg_tokens_per_doc
         |FROM t""".stripMargin) { (s, d) =>
      load(s, d, "documents")
        .select(col("lang"), col("source"),
          length(col("text")).cast("long").as("nc"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"),
          sum("nc").as("n_chars"),
          count_distinct(col("lang")).as("n_langs"),
          count_distinct(col("source")).as("n_sources"))
        .withColumn("avg_tokens_per_doc",
          col("n_tokens").cast("double") / col("n_docs").cast("double"))
    },

    // per-source quality breakdown (the monitoring cut a curation run
    // slices by): integer sums per source, single exact divisions
    QueryDef("doc_quality_by_source", {
      val sw = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH t AS (SELECT source, $sqlToks AS w FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(w)) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(list_filter(w, x -> list_contains($sw, x))))
         |      AS DOUBLE)
         |    / nullif(CAST(sum(len(w)) AS DOUBLE), 0.0) AS stopword_rate,
         |  CAST(sum(len(list_distinct(w))) AS DOUBLE)
         |    / nullif(CAST(sum(len(w)) AS DOUBLE), 0.0) AS distinct_rate
         |FROM t GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val swArr = array(TextOps.EnStopwords.map(lit): _*)
      load(s, d, "documents")
        .select(col("source"), tokens(col("text")).as("w"))
        .select(col("source"), size(col("w")).cast("long").as("nt"),
          size(filter(col("w"), t => array_contains(swArr, t)))
            .cast("long").as("nstop"),
          size(array_distinct(col("w"))).cast("long").as("ndist"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          (sum("nstop").cast("double") /
            nullif(sum("nt").cast("double"), lit(0.0d))).as("stopword_rate"),
          (sum("ndist").cast("double") /
            nullif(sum("nt").cast("double"), lit(0.0d))).as("distinct_rate"))
        .orderBy("source")
    },

    QueryDef("doc_langid",
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS w FROM documents),
         |p AS (SELECT lang, CASE WHEN
         |  CAST(len(list_filter(w, x -> list_contains(
         |    ${TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")}, x)))
         |    AS DOUBLE) / nullif(CAST(len(w) AS DOUBLE), 0.0) > 0.02
         |  THEN 'en' ELSE 'other' END AS predicted FROM t)
         |SELECT lang, predicted, count(*) AS n FROM p
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) { (s, d) =>
      load(s, d, "documents")
        .withColumn("toks", tokens(col("text")))
        .withColumn("predicted", TextOps.langId(col("toks")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },

    QueryDef("doc_fingerprint",
      s"""SELECT doc_id, ${sqlPhash("text")} AS fp,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    QueryDef("doc_exact_dedup",
      s"""WITH $sqlPlantedDocs,
         |h AS (SELECT doc_id, md5(text) AS content_hash FROM planted)
         |SELECT doc_id, content_hash,
         |  doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(plantedDocs(load(s, d, "documents")), col("text"),
        col("doc_id"))
        .select("doc_id", "content_hash", "is_canonical")
        .orderBy("doc_id")
    },

    // MinHash + LSH banding + exact-Jaccard verification. The oracle
    // replays the whole pipeline (not just the final predicate) so the
    // candidate-generation recall is itself checked.
    QueryDef("doc_dedup_minhash",
      s"""WITH $sqlMinhashPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM mj
         |WHERE jac >= $MinhashJaccard ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // the same detector behind the band-bucket SKEW GUARD: buckets
    // over MinhashBucketCap docs star-collapse around their min-id
    // hub (O(m) rows, not m²/2 — the boilerplate-at-100-TB guard),
    // light buckets stay exact, every emitted edge still
    // exact-verified. The oracle replays the capped candidate
    // generation independently, so the guard itself is hash-checked.
    QueryDef("doc_dedup_minhash_capped",
      s"""WITH $sqlMinhashCappedPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM mj
         |WHERE jac >= $MinhashJaccard ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard, bucketCap = MinhashBucketCap)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // RECALL of the banded MinHash candidate generator against exact
    // ground truth (the lexical twin of emb_ivf_recall): truth = every
    // pair at Jaccard >= threshold, computed WITHOUT banding by the
    // exact prefix-filter AllPairs join (no false negatives by
    // construction), caught = truth pairs the band join also surfaces.
    // With 2 bands x 8 rows at j = 0.95 the expected per-pair recall
    // is 1-(1-j^8)^2 ~ 0.88 — this query turns that design constant
    // into a measured, oracle-checked number, the dial a curation team
    // reads before trading bands against shuffle volume. The DuckDB
    // twin computes truth by brute all-pairs — two different exact
    // algorithms agreeing on the ground-truth set pins the prefix
    // filter itself. n_caught counts join hits (count(col), not
    // sum(flag)) so both engines emit BIGINT.
    QueryDef("doc_minhash_recall",
      s"""WITH $sqlMinhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_key)
         |  WHERE a.doc_id < b.doc_id),
         |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(a.hs) > 0 AND len(b.hs) > 0
         |    AND CAST(least(len(a.hs), len(b.hs)) AS DOUBLE) >=
         |        $MinhashJaccard * greatest(len(a.hs), len(b.hs))
         |    AND CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
         |      nullif(CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE), 0.0)
         |      >= $MinhashJaccard)
         |SELECT count(*) AS n_true, count(c.id_a) AS n_caught,
         |  round(CAST(count(c.id_a) AS DOUBLE) /
         |    nullif(CAST(count(*) AS DOUBLE), 0.0), 6) AS recall
         |FROM truth LEFT JOIN cand c
         |  ON c.id_a = truth.id_a AND c.id_b = truth.id_b""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
        .filter(size(col("hs")) > 0)
      // exact truth: AllPairs prefix filter at 19/20 = MinhashJaccard,
      // then the same size prefilter + verified Jaccard as the detector
      val cands = Dedup.prefixFilterCandidates(docs, "doc_id", "hs",
        Nil, tNum = 19, tDen = 20)
      val a = docs.select(col("doc_id").as("id_a"), col("hs").as("s_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("hs").as("s_b"))
      val truth = cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .filter(least(size(col("s_a")), size(col("s_b"))).cast("double") >=
          greatest(size(col("s_a")), size(col("s_b"))) * MinhashJaccard)
        .filter(Dedup.jaccardSorted(col("s_a"), col("s_b")) >= MinhashJaccard)
        .select("id_a", "id_b")
      val banded = Dedup.lshCandidates(
        Dedup.minhashFromHashes(docs.select(col("doc_id").as("__id"),
          col("hs")), col("hs"), MinhashK), "__id", MinhashK, RowsPerBand)
      truth.join(banded.withColumn("__hit", lit(1)),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_caught"))
        .withColumn("recall",
          round(col("n_caught").cast("double") /
            nullif(col("n_true").cast("double"), lit(0.0)), 6))
    },

    // near-duplicate CLUSTERING: connected components over the minhash
    // pair graph, every document labeled with its component's min doc
    // id (the canonical survivor). Spark runs min-label propagation to
    // fixpoint over the pair-set-sized subgraph; the oracle computes
    // the same fixpoint as a recursive transitive-closure CTE — two
    // very different algorithms agreeing pins both.
    QueryDef("doc_dup_components",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes
         |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp,
         |  d.doc_id = coalesce(c.comp, d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"),
          (col("doc_id") === coalesce(col("comp"), col("doc_id")))
            .as("is_canonical"))
        .orderBy("doc_id")
    },

    // quality-aware canonical selection (Dedup.keepBestInComponent):
    // within each near-dup component keep the LONGEST member (ties to
    // the smallest id) instead of the arbitrary min-id canonical —
    // "keep the best version of the page". One argmax aggregation per
    // component + a join back, no corpus-wide window sort; the twin
    // replays the same components and the same (score, id) argmax.
    QueryDef("doc_dup_keep_best",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes,
         |x AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp,
         |  d.n_chars FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |b AS (SELECT comp, max(n_chars) AS ms FROM x GROUP BY comp),
         |w AS (SELECT x.comp, min(x.doc_id) AS winner FROM x
         |  JOIN b ON x.comp = b.comp AND x.n_chars = b.ms GROUP BY x.comp)
         |SELECT x.doc_id, x.comp, CAST(x.n_chars AS BIGINT) AS score,
         |  x.doc_id = w.winner AS keep
         |FROM x JOIN w ON x.comp = w.comp ORDER BY x.doc_id""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.keepBestInComponent(docs, col("doc_id"),
          col("n_chars").cast("long"), comp)
        .select(col("id").as("doc_id"), col("comp"), col("score"),
          col("keep"))
        .orderBy("doc_id")
    },

    // duplication diagnostics: per-source near-dup rate (share of
    // documents folded under another canonical) — the operator-output
    // composition a curation team reads to find the polluting source
    QueryDef("doc_dup_rate_by_source",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes,
         |lab AS (SELECT d.doc_id, d.source,
         |  coalesce(c.comp, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(*) FILTER (comp <> doc_id) AS BIGINT) AS n_dups,
         |  CAST(count(*) FILTER (comp <> doc_id) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM lab GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"), col("source"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("is_dup",
          coalesce(col("comp"), col("doc_id")) =!= col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .withColumn("dup_rate",
          col("n_dups").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    },

    // curation decision table: within each near-dup component keep the
    // HIGHEST-QUALITY member (type-token ratio, doc-id tiebreak), not
    // the min-id one — the survivor choice a real curation pipeline
    // makes. Spark picks the winner with one max(struct) partial agg
    // (no per-component sort); the oracle uses a rank window — two
    // different algorithms, same table.
    QueryDef("doc_cluster_best",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes,
         |tq AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |q AS (SELECT doc_id, CAST(len(list_distinct(w)) AS DOUBLE)
         |  / nullif(CAST(len(w) AS DOUBLE), 0.0) AS score FROM tq),
         |lab AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |r AS (SELECT lab.doc_id, comp, score,
         |  row_number() OVER (PARTITION BY comp
         |    ORDER BY score DESC NULLS LAST, lab.doc_id) AS rn
         |  FROM lab JOIN q USING (doc_id)),
         |k AS (SELECT comp, doc_id AS keep_id FROM r WHERE rn = 1)
         |SELECT r.doc_id, r.comp, k.keep_id, r.doc_id = k.keep_id AS kept
         |FROM r JOIN k USING (comp) ORDER BY r.doc_id""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val toks = tokens(col("text"))
      // the scored frame doubles as the id universe — one scan serves
      // both the label join and the score, instead of a third pass
      val scored = load(s, d, "documents").select(col("doc_id"),
        (size(array_distinct(toks)).cast("double") /
          nullif(size(toks).cast("double"), lit(0.0d))).as("score"))
      val lab = scored
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"),
          col("score"))
      // max(struct) orders null score below any value (NULLS LAST in
      // the window twin) and -doc_id breaks exact-score ties toward
      // the smaller id — same winner as rn = 1
      val keep = lab.groupBy("comp")
        .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("comp"), (-col("b.nid")).as("keep_id"))
      lab.join(keep, "comp")
        .select(col("doc_id"), col("comp"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("kept"))
        .orderBy("doc_id")
    },

    // INCREMENTAL near-dup: verdict an incoming batch (odd doc ids)
    // against the standing corpus (even doc ids) without recomputing
    // corpus-internal pairs — the production ingest shape. The oracle
    // replays the identical banding CTEs and splits by the same
    // parity, so candidate generation recall is checked across the
    // batch/corpus boundary too.
    QueryDef("doc_incremental_dedup",
      s"""WITH $sqlMinhashBandCtes,
         |inc AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
         |cor AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
         |cand AS (SELECT DISTINCT i.doc_id AS id_i, c.doc_id AS id_c
         |  FROM inc i JOIN cor c USING (band_key)),
         |v AS (SELECT id_i, id_c,
         |  CAST(len(list_intersect(ti.hs, tc.hs)) AS DOUBLE) /
         |    nullif(CAST(len(list_distinct(list_concat(ti.hs, tc.hs))) AS DOUBLE), 0.0)
         |    AS jac
         |  FROM cand JOIN t ti ON ti.doc_id = id_i JOIN t tc ON tc.doc_id = id_c
         |  WHERE CAST(least(len(ti.hs), len(tc.hs)) AS DOUBLE) >=
         |        $MinhashJaccard * greatest(len(ti.hs), len(tc.hs)))
         |SELECT id_i AS doc_id, min(id_c) AS dup_of,
         |  round(max(jac), 6) AS best_jac
         |FROM v WHERE jac >= $MinhashJaccard
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "hs", MinhashK, RowsPerBand, MinhashJaccard)
        .select(col("doc_id"), col("dup_of"),
          round(col("best_jac"), 6).as("best_jac"))
        .orderBy("doc_id")
    },

    // the ACTUAL streaming ingest gate as an oracle-checked query:
    // two real applyBatch calls (even docs, then odd docs) over a
    // temp state dir, verdicts hash-checked against a pure-SQL
    // statement of the gate semantics — greedy in-batch self-dedup
    // (any verified smaller-id same-batch partner), then a corpus
    // probe against batch 0's ADMITTED survivors. Pair recall is
    // exactly the shared mj CTE: signatures are per-doc, so banding
    // over a batch subset equals banding over the corpus restricted
    // to that subset.
    QueryDef("doc_ingest_gate_e2e",
      s"""WITH $sqlMinhashPairCtes,
         |p AS (SELECT id_a, id_b, jac FROM mj WHERE jac >= $MinhashJaccard),
         |ids AS (SELECT doc_id FROM documents),
         |ib AS (SELECT id_b AS doc_id, min(id_a) AS dup_of,
         |    max(jac) AS best_jac
         |  FROM p WHERE id_a % 2 = id_b % 2 GROUP BY 1),
         |adm0 AS (SELECT doc_id FROM ids WHERE doc_id % 2 = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM ib)),
         |sym AS (SELECT id_a AS x, id_b AS y, jac FROM p
         |  UNION ALL SELECT id_b, id_a, jac FROM p),
         |cp AS (SELECT sym.x AS doc_id, min(sym.y) AS dup_of,
         |    max(jac) AS best_jac
         |  FROM sym JOIN adm0 ON adm0.doc_id = sym.y
         |  WHERE sym.x % 2 = 1 GROUP BY 1)
         |SELECT ids.doc_id, CAST(ids.doc_id % 2 AS BIGINT) AS batch,
         |  CASE WHEN ib.doc_id IS NOT NULL THEN 'dup_in_batch'
         |       WHEN cp.doc_id IS NOT NULL THEN 'dup_of_corpus'
         |       ELSE 'admitted' END AS verdict,
         |  coalesce(ib.dup_of, cp.dup_of) AS dup_of,
         |  round(coalesce(ib.best_jac, cp.best_jac), 6) AS best_jac
         |FROM ids LEFT JOIN ib USING (doc_id)
         |  LEFT JOIN cp ON cp.doc_id = ids.doc_id
         |ORDER BY ids.doc_id""".stripMargin
    ) { (s, d) =>
      val root = gateStateDir(s, d)
      new graft.streaming.IngestGate(s, root,
        k = MinhashK, rowsPerBand = RowsPerBand, threshold = MinhashJaccard)
        .readVerdicts(1L)
        .select(col("doc_id"), col("batch").cast("long").as("batch"),
          col("verdict"), col("dup_of"),
          round(col("best_jac"), 6).as("best_jac"))
        .orderBy("doc_id")
    },

    QueryDef("doc_simhash", {
      val sums = (0 until 32)
        .map(i => s"CAST(sum((h >> $i) & 1) AS BIGINT) AS s_$i").mkString(",\n  ")
      val bits = (0 until 32)
        .map(i => s"(CASE WHEN 2 * s_$i > n THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |hh AS (SELECT doc_id, ${sqlPhash("tok")} AS h FROM u),
         |agg AS (SELECT doc_id, count(*) AS n,
         |  $sums
         |  FROM hh GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM agg ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val df = load(s, d, "documents").withColumn("toks", tokens(col("text")))
      Dedup.simhash32(df, col("toks"))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    },

    // SimHash near-dup pairs: banded-Hamming candidate join
    // (pigeonhole over 4x8-bit bands), verify hamming ≤ 3
    QueryDef("doc_dedup_simhash", {
      val sums = (0 until 32)
        .map(i => s"CAST(sum((h >> $i) & 1) AS BIGINT) AS s_$i").mkString(",\n  ")
      val bits = (0 until 32)
        .map(i => s"(CASE WHEN 2 * s_$i > n THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val bandSel = (0 until 4).map { b =>
        s"SELECT doc_id, simhash, concat_ws(':', '$b', (simhash >> ${b * 8}) & 255)" +
          " AS band_key FROM sh"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |hh AS (SELECT doc_id, ${sqlPhash("tok")} AS h FROM u),
         |agg AS (SELECT doc_id, count(*) AS n,
         |  $sums
         |  FROM hh GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM agg),
         |bands AS (
         |  $bandSel),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM bands a JOIN bands b USING (band_key)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS dist
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      // both band-join sides derive from the exploded-token simhash
      // aggregation — persist it once (released by the harness's
      // per-query clearCache)
      val sims = Dedup.simhash32(
        load(s, d, "documents").withColumn("toks", tokens(col("text"))),
        col("toks"))
        .select(col("doc_id"), col("simhash"))
        .persist()
      Dedup.simhashPairs(sims, "doc_id", bands = 4, bitsPerBand = 8, maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
        .orderBy("id_a", "id_b")
    },

    // the simhash detector behind the same band-bucket skew guard:
    // sf0.01 has a 481-doc band bucket (the 8-bit band space is tiny),
    // so the star-collapse branch is live here, verified by hamming on
    // every emitted edge, and the oracle replays the capped generation
    QueryDef("doc_dedup_simhash_capped", {
      val sums = (0 until 32)
        .map(i => s"CAST(sum((h >> $i) & 1) AS BIGINT) AS s_$i").mkString(",\n  ")
      val bits = (0 until 32)
        .map(i => s"(CASE WHEN 2 * s_$i > n THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val bandSel = (0 until 4).map { b =>
        s"SELECT doc_id, simhash, concat_ws(':', '$b', (simhash >> ${b * 8}) & 255)" +
          " AS band_key FROM sh"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |hh AS (SELECT doc_id, ${sqlPhash("tok")} AS h FROM u),
         |agg AS (SELECT doc_id, count(*) AS n,
         |  $sums
         |  FROM hh GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM agg),
         |bands AS (
         |  $bandSel),
         |bc AS (SELECT band_key, count(*) AS bn, min(doc_id) AS hub
         |  FROM bands GROUP BY band_key),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM bands a JOIN bands b USING (band_key) JOIN bc USING (band_key)
         |  WHERE bc.bn <= $SimhashBucketCap AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT bc.hub, bands.doc_id, hs.simhash, bands.simhash
         |  FROM bands JOIN bc USING (band_key) JOIN sh hs ON hs.doc_id = bc.hub
         |  WHERE bc.bn > $SimhashBucketCap AND bands.doc_id <> bc.hub)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS dist
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      val sims = Dedup.simhash32(
        load(s, d, "documents").withColumn("toks", tokens(col("text"))),
        col("toks"))
        .select(col("doc_id"), col("simhash"))
        .persist()
      Dedup.simhashPairs(sims, "doc_id", bands = 4, bitsPerBand = 8,
        maxDist = 3, bucketCap = SimhashBucketCap)
        .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
        .orderBy("id_a", "id_b")
    },

    // char-n-gram Jaccard near-dup within (lang, source) blocks.
    // Candidate generation is EXACT prefix filtering
    // (Dedup.prefixFilterCandidates): pairs at jac >= 0.3 provably
    // share a rare-first prefix token, so the Spark side never forms
    // a within-block all-pairs join — yet its output is identical to
    // the oracle's brute-force formulation. (The oracle deliberately
    // STAYS all-pairs: DuckDB independently reproducing the same rows
    // is what proves the pruning lossless.)
    QueryDef("doc_ngram_jaccard",
      s"""WITH $ngramPairSqlCte
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM p
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      ngramJaccardPairs(s, d)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // best near-dup match per document — the OUTPUT-LINEAR consumption
    // of the pair detector above: the full pair list grows with the
    // square of duplicate-cluster size (emitting it is the dominant
    // sf1 bench cost), but what a curation pipeline usually needs is
    // each doc's strongest partner, which is one map-side-combinable
    // max_by over the symmetrized pairs — ≤ one output row per doc
    // regardless of cluster density
    QueryDef("doc_best_match",
      s"""WITH $ngramPairSqlCte,
         |sym AS (SELECT id_a AS doc_id, id_b AS match_id, jac FROM p
         |  UNION ALL SELECT id_b AS doc_id, id_a AS match_id, jac FROM p),
         |r AS (SELECT doc_id, match_id, jac, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY jac DESC, match_id DESC) AS rn
         |  FROM sym)
         |SELECT doc_id, match_id, round(jac, 6) AS jac FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.bestMatchPerDoc(ngramJaccardPairs(s, d), "id_a", "id_b", "jac")
        .select(col("doc_id"), col("match_id"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_id")
    },

    // exact substring-overlap pairs (verbatim-copy evidence, the
    // substring-dedup signal): docs sharing >= 2 distinct rare
    // 3-token spans; spans above the df cap are boilerplate, not
    // copying evidence, and capping them bounds the per-key fanout
    QueryDef("doc_span_overlap",
      s"""WITH $sqlPlantedDocs,
         |t AS (SELECT doc_id, $sqlToks AS w FROM planted),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    list_distinct(list_transform(range(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
         |    sp -> ${sqlPhash("sp")}))) AS h
         |  FROM t),
         |rare AS (SELECT h FROM g GROUP BY h HAVING count(*) <= $SpanDfCap),
         |f AS (SELECT doc_id, h FROM g WHERE h IN (SELECT h FROM rare))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $SpanMinShared
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // the shingle-hash projection feeds the df count and both pair
      // sides — persist it once (released by per-query clearCache)
      val sets = plantedDocs(load(s, d, "documents"))
        .select(col("doc_id"),
          Dedup.shingleHashes(tokens(col("text")), 3).as("hs"))
        .persist()
      Dedup.spanOverlapPairs(sets, "doc_id", "hs",
        dfCap = SpanDfCap, minShared = SpanMinShared)
        .orderBy("id_a", "id_b")
    },

    // the composed curation pipeline: exact dedup → LSH near-dup drop
    // → quality gates → language filter, as one auditable verdict per
    // document. The pipeline's near-dup stage now DEFAULTS to capped
    // band buckets (the production guard), so the twin replays the
    // same star-collapsed candidate generation at the same cap.
    QueryDef("doc_curation_pipeline", {
      val sigs = sqlMinhashSigs
      val bandSelects = sqlMinhashBandSelects
      val cap = graft.ops.CurationPipeline.Config().bucketCap
      val sw = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH $sqlPlantedDocs,
         |base AS (SELECT doc_id, text, $sqlToks AS w FROM planted),
         |t AS (SELECT doc_id, list_distinct(list_transform(
         |    list_distinct(w), tok -> ${sqlPhash("tok")})) AS hs, w, text
         |  FROM base),
         |u AS (SELECT doc_id, unnest(hs) AS h FROM t),
         |sig AS (SELECT doc_id, $sigs FROM u GROUP BY doc_id),
         |bands AS (
         |  $bandSelects),
         |bc AS (SELECT band_key, count(*) AS bn, min(doc_id) AS hub
         |  FROM bands GROUP BY band_key),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_key) JOIN bc USING (band_key)
         |  WHERE bc.bn <= $cap AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT bc.hub AS id_a, bands.doc_id AS id_b
         |  FROM bands JOIN bc USING (band_key)
         |  WHERE bc.bn > $cap AND bands.doc_id <> bc.hub),
         |dropids AS (SELECT DISTINCT id_b AS doc_id
         |  FROM cand JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b
         |  WHERE CAST(least(len(ta.hs), len(tb.hs)) AS DOUBLE) >=
         |        $MinhashJaccard * greatest(len(ta.hs), len(tb.hs))
         |    AND CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE) /
         |        nullif(CAST(len(list_distinct(list_concat(ta.hs, tb.hs))) AS DOUBLE), 0.0)
         |        >= $MinhashJaccard),
         |m AS (SELECT t.doc_id,
         |  t.doc_id = min(t.doc_id) OVER (PARTITION BY md5(t.text)) AS is_canonical,
         |  t.doc_id IN (SELECT doc_id FROM dropids) AS is_near_dup,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(w, x -> list_contains($sw, x))) AS DOUBLE)
         |    / nullif(CAST(len(w) AS DOUBLE), 0.0) AS swr,
         |  CAST(len(list_distinct(w)) AS DOUBLE)
         |    / nullif(CAST(len(w) AS DOUBLE), 0.0) AS ttr
         |  FROM t)
         |SELECT doc_id, is_canonical, is_near_dup, n_tokens,
         |  CASE WHEN swr > 0.02 THEN 'en' ELSE 'other' END AS predicted_lang,
         |  (is_canonical AND NOT is_near_dup AND n_tokens >= 20
         |   AND swr <= 0.5 AND ttr >= 0.2
         |   AND (CASE WHEN swr > 0.02 THEN 'en' ELSE 'other' END) = 'en') AS kept
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      graft.ops.CurationPipeline.curate(plantedDocs(load(s, d, "documents")))
        .select("doc_id", "is_canonical", "is_near_dup", "n_tokens",
          "predicted_lang", "kept")
        .orderBy("doc_id")
    },

    // PII detect + redact: the fixture plants one email, phone and
    // IPv4 per document (keyed off doc_id, so counts vary — short ids
    // make phone numbers too short to match); patterns are RE2-safe
    // and shared verbatim with the oracle
    QueryDef("doc_pii_redact", {
      import graft.ops.PipelineOps.{EmailRe, PhoneRe, Ipv4Re}
      s"""WITH p AS (SELECT doc_id,
         |  text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com or +1-555-' || CAST(doc_id % 10000 AS VARCHAR) ||
         |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 now.' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = load(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" Contact user"),
          col("doc_id").cast("string"), lit("@example.com or +1-555-"),
          (col("doc_id") % 10000).cast("string"), lit(" from 10."),
          (col("doc_id") % 256).cast("string"), lit(".0.1 now.")).as("text"))
      graft.ops.PipelineOps.piiDetectRedact(planted, col("text"))
        .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
        .orderBy("doc_id")
    },

    // benchmark decontamination: every EvalMod-th document is the
    // "eval set"; a training document is contaminated when it shares
    // any 8-token shingle with an eval document. EvalMod = 7: the
    // corpus's near-duplicates are token-SET overlaps (word salad), so
    // exact 8-gram hits are rare — a sparser eval set (the old mod 97)
    // made the verdict vacuous (zero contaminated at sf0.01; mod 7
    // yields 9 there and 7 at sf0.001)
    QueryDef("doc_decontaminate", decontamBoolSql) { (s, d) =>
      graft.ops.PipelineOps.decontaminate(load(s, d, "documents"),
        col("doc_id"), col("text"), col("doc_id") % EvalMod === 0, w = 8)
        .select(col("__id").as("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    },

    // the same verdict through the Bloom-prefiltered plan (the corpus-
    // scale shape: a bloom probe prunes the training-side explode
    // before its shuffle; no false negatives + exact confirm join ⇒
    // result identical to doc_decontaminate, so the oracle SQL is
    // shared verbatim — the driver proving equality IS the point)
    QueryDef("doc_decontaminate_bloom", decontamBoolSql) { (s, d) =>
      graft.ops.PipelineOps.decontaminateBloom(load(s, d, "documents"),
        col("doc_id"), col("text"), col("doc_id") % EvalMod === 0, w = 8)
        .select(col("__id").as("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    },

    // gradated decontamination: distinct-shingle overlap counts and
    // the exact fraction a pipeline thresholds to separate verbatim
    // leaks from incidental n-gram collisions
    QueryDef("doc_decontaminate_frac", {
      val sh8 = (1 to 8).map(o => s"w[i+$o]").mkString(", ")
      s"""WITH base AS (SELECT doc_id, doc_id % $EvalMod = 0 AS is_eval,
         |    list_distinct(list_transform(
         |    list_distinct(list_transform(range(0, greatest(len(w) - 7, 0)
         |      ), i -> concat_ws(' ', $sh8))), s -> ${sqlPhash("s")})) AS hs
         |  FROM (SELECT doc_id, $sqlToks AS w FROM documents)),
         |sh AS (SELECT doc_id, is_eval, unnest(hs) AS h FROM base),
         |ev AS (SELECT DISTINCT h FROM sh WHERE is_eval),
         |hits AS (SELECT s.doc_id, count(*) AS n_contaminated
         |  FROM sh s JOIN ev ON s.h = ev.h WHERE NOT s.is_eval GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.hs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
         |    / nullif(CAST(len(b.hs) AS DOUBLE), 0.0) AS contaminated_frac
         |FROM base b LEFT JOIN hits h USING (doc_id)
         |WHERE NOT b.is_eval ORDER BY b.doc_id""".stripMargin
    }) { (s, d) =>
      graft.ops.PipelineOps.decontaminateFrac(load(s, d, "documents"),
        col("doc_id"), col("text"), col("doc_id") % EvalMod === 0, w = 8)
        .select(col("__id").as("doc_id"), col("n_shingles"),
          col("n_contaminated"), col("contaminated_frac"))
        .orderBy("doc_id")
    },

    // deterministic offset packing into 512-token training sequences,
    // grouped by source, laid out in doc_id order
    QueryDef("doc_pack_greedy",
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, source, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0) AS BIGINT) AS cum_before,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0) // 512 AS BIGINT) AS pack_id
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = load(s, d, "documents").select(col("doc_id"), col("source"),
        size(graft.functions.GraftFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      graft.ops.PipelineOps.packSequences(t, col("source"), col("doc_id"),
        col("n_tokens"), budget = 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_before"), col("pack_id").cast("long").as("pack_id"))
        .orderBy("doc_id")
    },

    // deterministic stratified sampling by language (en 37%, rest 11%)
    QueryDef("doc_sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlSampleHash("lang || ':' || CAST(doc_id AS VARCHAR)")} % 100
         |  < (CASE WHEN lang = 'en' THEN 37 ELSE 11 END)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.stratifiedSample(load(s, d, "documents"),
        col("lang"), col("doc_id"), Map("en" -> 37), defaultPercent = 11)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Gopher-style intra-document repetition metrics + filter verdict.
    // Spark computes the top-token count as a run-length fold over the
    // sorted token array (scan-parallel, no explode); the oracle uses
    // the natural unnest+groupBy — same numbers, different plans.
    QueryDef("doc_repetition_filter",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |g AS (SELECT doc_id, w,
         |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
         |  list_transform(range(1, len(w)-1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3 FROM t),
         |e AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY 1, 2),
         |m AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM c GROUP BY 1),
         |r AS (SELECT g.doc_id,
         |  CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |    / nullif(CAST(len(g2) AS DOUBLE), 0.0) AS dup_2gram_frac,
         |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |    / nullif(CAST(len(g3) AS DOUBLE), 0.0) AS dup_3gram_frac,
         |  CAST(m.mx AS DOUBLE) / nullif(CAST(m.n AS DOUBLE), 0.0)
         |    AS top_token_frac
         |  FROM g LEFT JOIN m ON g.doc_id = m.doc_id)
         |SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_token_frac,
         |  (dup_2gram_frac <= $RepDup2Max AND top_token_frac <= $RepTopTokMax)
         |    AS kept
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.withRepetitionStats(load(s, d, "documents"), col("text"))
        .withColumn("kept",
          col("dup_2gram_frac") <= RepDup2Max &&
            col("top_token_frac") <= RepTopTokMax)
        .select("doc_id", "dup_2gram_frac", "dup_3gram_frac",
          "top_token_frac", "kept")
        .orderBy("doc_id")
    },

    // corpus-level 3-gram heavy hitters (boilerplate detection):
    // occurrence + document frequency, top 20
    QueryDef("doc_top_ngrams",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
         |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram FROM t),
         |c AS (SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS df
         |  FROM g GROUP BY 1)
         |SELECT ngram, n, df FROM c ORDER BY n DESC, ngram LIMIT 20""".stripMargin) {
      (s, d) =>
        TextOps.topNgrams(load(s, d, "documents"), col("doc_id"), col("text"),
          w = 3, topK = 20)
    },

    // the approx-df variant the exact operator's comment promises:
    // doc frequency from a deterministic 1-in-4 doc-id hash sample
    // (reproducible across engines, unlike an HLL sketch), ranking
    // still on the exact occurrence count
    QueryDef("doc_top_ngrams_approx",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
         |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram FROM t),
         |c AS (SELECT ngram, count(*) AS n,
         |  count(DISTINCT CASE WHEN
         |    ${sqlSampleHash("CAST(doc_id AS VARCHAR)")} % $NgramSampleRate = 0
         |    THEN doc_id END) * $NgramSampleRate AS df_approx
         |  FROM g GROUP BY 1)
         |SELECT ngram, n, df_approx FROM c
         |ORDER BY n DESC, ngram LIMIT 20""".stripMargin) { (s, d) =>
      TextOps.topNgramsApprox(load(s, d, "documents"), col("doc_id"),
        col("text"), w = 3, topK = 20, rate = NgramSampleRate)
    },

    // boilerplate coverage: fraction of each doc's distinct 3-token
    // shingles that are corpus-frequent (df >= cap). The oracle
    // rebuilds the same distinct-shingle-hash domain, so hashing and
    // distinctness agree with the Spark side by construction.
    QueryDef("doc_boilerplate",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |h AS (SELECT doc_id, list_distinct(list_transform(
         |  list_distinct(list_transform(range(1, len(w)-1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
         |  x -> ${sqlPhash("x")})) AS hs FROM t),
         |u AS (SELECT doc_id, unnest(hs) AS sh FROM h),
         |f AS (SELECT sh FROM u GROUP BY sh HAVING count(*) >= $BoilerMinDf),
         |b AS (SELECT doc_id, count(*) AS n_boiler FROM u
         |  JOIN f USING (sh) GROUP BY 1)
         |SELECT h.doc_id,
         |  CAST(coalesce(len(hs), 0) AS BIGINT) AS n_shingles,
         |  coalesce(b.n_boiler, 0) AS n_boiler,
         |  CAST(coalesce(b.n_boiler, 0) AS DOUBLE) /
         |    nullif(CAST(coalesce(len(hs), 0) AS DOUBLE), 0.0) AS boiler_frac
         |FROM h LEFT JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      TextOps.boilerplateCoverage(load(s, d, "documents"), col("doc_id"),
        col("text"), w = 3, minDf = BoilerMinDf)
        .select("doc_id", "n_shingles", "n_boiler", "boiler_frac")
        .orderBy("doc_id")
    },

    // per-document TF-IDF top terms; score = tf·N/df as one exact
    // IEEE division so both engines rank identically
    QueryDef("doc_tfidf_topterms",
      s"""WITH e AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |  CAST(tf * n.n AS DOUBLE) / CAST(df AS DOUBLE) AS score
         |  FROM tf JOIN dfreq USING (term), n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score DESC, term) AS rank FROM sc)
         |SELECT doc_id, term, tf, df, score, rank FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      TextOps.tfidfTopTerms(docs, col("doc_id"), col("text"),
        nDocs = docs.count(), k = 3)
        .orderBy("doc_id", "rank")
    },

    // temperature-balanced sampling (α = 0.5, target 1/4 of the
    // corpus): per-language ppm rates from exact integer math, applied
    // as a pure hash filter
    QueryDef("doc_temperature_sample",
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wl FROM c),
         |s AS (SELECT CAST(sum(wl) AS HUGEINT) AS sw,
         |  CAST(sum(n) AS HUGEINT) AS total FROM w),
         |r AS (SELECT lang, CAST(least(
         |    (CAST(1000000 AS HUGEINT) * ((total * $TempNum) // $TempDen) * wl)
         |      // (sw * n),
         |    1000000) AS BIGINT) AS rate_ppm FROM w, s)
         |SELECT d.doc_id, d.lang, r.rate_ppm FROM documents d
         |JOIN r USING (lang)
         |WHERE ${sqlSampleHash("lang || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
         |  < r.rate_ppm
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.temperatureSample(load(s, d, "documents"),
        col("lang"), col("doc_id"), num = TempNum.toLong, den = TempDen.toLong)
        .select("doc_id", "lang", "rate_ppm")
        .orderBy("doc_id")
    },

    // token-budget mixture sampling: downsample each lang so the
    // sampled corpus hits the 7:2:1 en/zh/de token recipe within a
    // 4000-token budget; unlisted strata (fr/es) drop out entirely.
    // Rates are exact BigInt ppm over the O(#strata) token-mass
    // table, applied as the same broadcast-joined hash filter as the
    // temperature sampler
    QueryDef("doc_mixture_sample", {
      val sumShare = MixShares.map(_._2).sum
      val shareCase = MixShares.map { case (k, v) =>
        s"WHEN '$k' THEN $v" }.mkString("CASE lang ", " ", " END")
      val langList = MixShares.map { case (k, _) => s"'$k'" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, len($sqlToks) AS nt FROM documents),
         |m AS (SELECT lang, sum(nt) AS tmass FROM t GROUP BY 1),
         |r AS (SELECT lang, CAST(LEAST(1000000,
         |    (CAST(1000000 AS BIGINT) * $MixBudgetTokens * ($shareCase))
         |      // ($sumShare * tmass)) AS BIGINT) AS rate_ppm
         |  FROM m WHERE lang IN ($langList)),
         |d AS (SELECT doc_id, lang FROM documents)
         |SELECT d.doc_id, d.lang, r.rate_ppm
         |FROM d JOIN r USING (lang)
         |WHERE ${sqlSampleHash("lang || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
         |  < r.rate_ppm
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      graft.ops.PipelineOps.mixtureSample(load(s, d, "documents"),
        col("lang"), col("doc_id"), size(tokens(col("text"))),
        shares = MixShares.toMap, budgetTokens = MixBudgetTokens)
        .select("doc_id", "lang", "rate_ppm")
        .orderBy("doc_id")
    },

    // deterministic 90/5/5 train/val/test split: membership is a pure
    // hash of the doc id — reproducible across engines/runs, stable
    // under corpus growth, shuffle-free
    QueryDef("doc_split_assign",
      s"""SELECT doc_id,
         |  CASE WHEN ${sqlSampleHash("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${sqlSampleHash("CAST(doc_id AS VARCHAR)")} % 100 < 95
         |    THEN 'val' ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.splitAssign(load(s, d, "documents"),
        col("doc_id"), Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // seeded global shuffle into training shards: deterministic order
    // key, shard = ord % 16, in-shard position — the last pipeline
    // stage before writing training files. One shuffle on the shard
    // key, per-shard sorts only (nShards is the parallelism knob);
    // never a global single-reducer sort.
    QueryDef("doc_shuffle_shards",
      s"""WITH o AS (SELECT doc_id,
         |  ${sqlSampleHash(s"'$ShuffleSeed:' || CAST(doc_id AS VARCHAR)")}
         |    AS ord FROM documents)
         |SELECT doc_id, ord % $ShuffleShards AS shard, ord,
         |  row_number() OVER (PARTITION BY ord % $ShuffleShards
         |    ORDER BY ord, doc_id) AS pos
         |FROM o ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.shuffleShards(load(s, d, "documents"),
        col("doc_id"), seed = ShuffleSeed, nShards = ShuffleShards)
        .select("doc_id", "shard", "ord", "pos")
        .orderBy("doc_id")
    },

    // concat-and-chunk sequence packing (PipelineOps.chunkLayout):
    // the GPT-style layout — each shard's token stream concatenates
    // in doc order and cuts every PackSeqLen tokens; every document
    // learns its offset, first/last sequence, and whether it crosses
    // a boundary. One shard-key shuffle + per-shard prefix sums
    // (parallel windows), exact integers.
    QueryDef("doc_pack_sequences",
      s"""WITH t AS (SELECT doc_id, doc_id % $PackShards AS shard,
         |  CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
         |  start_tok,
         |  start_tok // $PackSeqLen AS seq_first,
         |  (start_tok + greatest(n_tokens - 1, 0)) // $PackSeqLen
         |    AS seq_last,
         |  (start_tok + greatest(n_tokens - 1, 0)) // $PackSeqLen >
         |    start_tok // $PackSeqLen AS crosses
         |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.chunkLayout(
          load(s, d, "documents").withColumn("__nt",
            size(tokens(col("text"))).cast("long")),
          col("doc_id"), col("__nt"), col("doc_id") % PackShards,
          seqLen = PackSeqLen)
        .select("doc_id", "shard", "n_tokens", "start_tok",
          "seq_first", "seq_last", "crosses")
        .orderBy("doc_id")
    },

    // the packing census (PipelineOps.chunkLayoutStats): sequences yielded
    // per shard (ceil), exact ppm fill rate (the padding waste of the
    // last chunk), boundary-crossing doc count — the capacity
    // planning numbers a training run reads off the packed layout.
    QueryDef("doc_pack_stats",
      s"""WITH t AS (SELECT doc_id, doc_id % $PackShards AS shard,
         |  CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
         |  FROM t),
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN (start_tok + greatest(n_tokens - 1, 0))
         |      // $PackSeqLen > start_tok // $PackSeqLen
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
         |  FROM p GROUP BY 1),
         |q AS (SELECT shard, n_docs, n_tokens, n_crossing,
         |  (n_tokens + ${PackSeqLen - 1}) // $PackSeqLen AS n_seqs
         |  FROM g)
         |SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
         |  n_seqs,
         |  CASE WHEN n_seqs > 0
         |    THEN n_tokens * 1000000 // (n_seqs * $PackSeqLen)
         |    ELSE 0 END AS fill_ppm,
         |  n_crossing
         |FROM q ORDER BY shard""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.chunkLayoutStats(
          graft.ops.PipelineOps.chunkLayout(
            load(s, d, "documents").withColumn("__nt",
              size(tokens(col("text"))).cast("long")),
            col("doc_id"), col("__nt"), col("doc_id") % PackShards,
            seqLen = PackSeqLen),
          seqLen = PackSeqLen)
        .orderBy("shard")
    },

    // context-length chunking: 32-token windows, stride 24 (8-token
    // overlap), final short window kept — pure projection + explode,
    // scan-parallel
    QueryDef("doc_chunk",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |s AS (SELECT doc_id, w, unnest(CASE WHEN len(w) > 0
         |    THEN range(0, ((len(w)-1)//$ChunkStride)*$ChunkStride + 1,
         |               $ChunkStride) ELSE [] END) AS cs
         |  FROM t)
         |SELECT doc_id, cs AS chunk_start,
         |  CAST(cs // $ChunkStride AS BIGINT) AS chunk_id,
         |  CAST(len(w[cs+1:cs+$ChunkWindow]) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(w[cs+1:cs+$ChunkWindow], ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.chunk(load(s, d, "documents"), col("text"),
        window = ChunkWindow, stride = ChunkStride)
        .select(col("doc_id"), col("chunk_start"), col("chunk_id"),
          col("n_chunk_tokens"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // sub-document duplicate removal (Dedup.dropFrequentChunks): the
    // web-pipeline "repeated paragraph" pass at token-window
    // granularity — chunks whose corpus document-frequency exceeds
    // the cap are cut from EVERY document and the survivors are
    // re-joined in order; every document survives (possibly empty).
    // One explode + freq agg + co-keyed join + doc reassembly.
    QueryDef("doc_chunk_dedup",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |s AS (SELECT doc_id, w, unnest(CASE WHEN len(w) > 0
         |    THEN range(0, ((len(w)-1)//$ChunkDedupW)*$ChunkDedupW + 1,
         |               $ChunkDedupW) ELSE [] END) AS cs
         |  FROM t),
         |c AS (SELECT doc_id, CAST(cs // $ChunkDedupW AS BIGINT) AS chunk_id,
         |  array_to_string(w[cs+1:cs+$ChunkDedupW], ' ') AS chunk_text
         |  FROM s),
         |f AS (SELECT chunk_text, count(DISTINCT doc_id) AS df
         |  FROM c GROUP BY 1),
         |k AS (SELECT c.doc_id, c.chunk_id, c.chunk_text,
         |  f.df > $ChunkDedupMaxDf AS dropped
         |  FROM c JOIN f USING (chunk_text)),
         |p AS (SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  coalesce(array_to_string(
         |    list(chunk_text ORDER BY chunk_id) FILTER (WHERE NOT dropped),
         |    ' '), '') AS clean_text
         |  FROM k GROUP BY 1)
         |SELECT d.doc_id, coalesce(p.n_chunks, 0) AS n_chunks,
         |  coalesce(p.n_dropped, 0) AS n_dropped,
         |  coalesce(p.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN p USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dropFrequentChunks(load(s, d, "documents"),
          col("doc_id"), col("text"),
          window = ChunkDedupW, maxDocFreq = ChunkDedupMaxDf)
        .select(col("id").as("doc_id"), col("n_chunks"),
          col("n_dropped"), col("clean_text"))
        .orderBy("doc_id")
    },

    // range-blocked inverted index: posting blocks keyed by (term,
    // doc-id range) — the sharded shape a distributed index build
    // writes; no per-term global sort. The array postings are rendered
    // as a space-joined scalar here (the operator itself keeps the
    // array) so the driver's hash comparator can sort the column.
    QueryDef("doc_inverted_index",
      s"""WITH t AS (SELECT doc_id,
         |  unnest(list_distinct($sqlToks)) AS term FROM documents),
         |b AS (SELECT term, doc_id // $IndexBlockDocs AS block_id, doc_id
         |  FROM t)
         |SELECT term, CAST(block_id AS BIGINT) AS block_id,
         |  count(*) AS n_docs,
         |  array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings
         |FROM b GROUP BY 1, 2 ORDER BY term, block_id""".stripMargin) {
      (s, d) =>
        TextOps.invertedIndex(load(s, d, "documents"), col("doc_id"),
          col("text"), blockDocs = IndexBlockDocs)
          .withColumn("postings", array_join(col("postings"), " "))
          .orderBy("term", "block_id")
    },

    // exact per-language length quantiles via value histogram: the
    // corpus collapses to (lang × distinct length) in one shuffle and
    // selection is pure integer math — never a per-group full sort
    QueryDef("doc_length_quantiles",
      """WITH h AS (SELECT lang AS grp, n_chars AS v, count(*) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT grp, v, c,
        |  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n FROM h)
        |SELECT grp AS lang, max(n) AS n,
        |  min(CASE WHEN cum * 2 >= n * 1 THEN v END) AS p_50,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p_90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p_99
        |FROM cm GROUP BY grp ORDER BY lang""".stripMargin) { (s, d) =>
      TextOps.discQuantiles(load(s, d, "documents"), col("lang"),
        col("n_chars"),
        Seq(("50", 1, 2), ("90", 9, 10), ("99", 99, 100)))
        .select(col("grp").as("lang"), col("n"), col("p_50"), col("p_90"),
          col("p_99"))
        .orderBy("lang")
    },

    // BYTE-weighted length quantiles (TextOps.weightedQuantiles):
    // "half the corpus BYTES live in documents longer than X" — the
    // corpus-mass view the unweighted median can't answer (long docs
    // dominate training-token mass; row-median understates them).
    // Same histogram scale shape; cumulative weight replaces count.
    QueryDef("doc_weighted_median",
      """WITH h AS (SELECT lang AS grp, n_chars AS v,
        |  CAST(sum(n_chars) AS BIGINT) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT grp, v, c,
        |  CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n FROM h)
        |SELECT grp AS lang, max(n) AS w_total,
        |  min(CASE WHEN cum * 2 >= n * 1 THEN v END) AS p_med,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p_p90
        |FROM cm GROUP BY grp ORDER BY lang""".stripMargin) { (s, d) =>
      TextOps.weightedQuantiles(load(s, d, "documents"), col("lang"),
        col("n_chars"), col("n_chars"),
        Seq(("med", 1, 2), ("p90", 9, 10)))
        .select(col("grp").as("lang"), col("n").as("w_total"),
          col("p_med"), col("p_p90"))
        .orderBy("lang")
    },

    // nucleus (top-p) selection (PipelineOps.nucleusSelect): per
    // source keep the heaviest documents carrying 3/4 of the source's
    // byte mass — the curation knob between "keep everything" and a
    // hard per-source cap. Pure integer threshold ((cum−w)·4 <
    // tot·3, ties by doc_id) so both engines keep the identical
    // prefix; one stratum shuffle + local windows, no global sort.
    QueryDef("doc_nucleus_sample",
      """WITH b AS (SELECT doc_id, source, n_chars,
        |  CAST(sum(n_chars) OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum,
        |  CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT doc_id, source, n_chars FROM b
        |WHERE (cum - n_chars) * 4 < tot * 3
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.nucleusSelect(load(s, d, "documents"),
          col("source"), col("doc_id"), col("n_chars"), num = 3, den = 4)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // epoch repeat plan (PipelineOps.epochPlan): the quality-
    // upsampling knob — 'en' docs seen 3×, 'de' 2×, everything else
    // once — materialized as (doc_id, rep) rows, the input a loader
    // shuffles into a training order. Pure codegen'd row generation
    // (literal when-chain + explode(sequence)), no shuffle; the twin
    // replays the recipe with range().
    QueryDef("doc_epoch_plan",
      """SELECT doc_id, lang,
        |  unnest(range(1, CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2
        |    ELSE 1 END + 1)) AS rep
        |FROM documents ORDER BY doc_id, rep""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.epochPlan(
          load(s, d, "documents").select("doc_id", "lang"),
          col("lang"), Map("en" -> 3, "de" -> 2), defaultRepeat = 1)
        .select("doc_id", "lang", "rep")
        .orderBy("doc_id", "rep")
    },

    // k-anonymity / l-diversity release audit (PipelineOps.
    // kAnonymity): per (lang, source) quasi-identifier combo, the
    // member count and distinct-length diversity with both verdicts —
    // the privacy gate a corpus passes before shipping. One
    // combiner-friendly shuffle, combo-sized output.
    QueryDef("doc_k_anonymity",
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT n_chars) AS BIGINT) AS n_sensitive,
        |  count(*) >= 5 AS k_anonymous,
        |  count(DISTINCT n_chars) >= 3 AS l_diverse
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.kAnonymity(load(s, d, "documents"),
          Seq(col("lang"), col("source")), col("n_chars"), k = 5, l = 3)
        .orderBy("lang", "source")
    },

    // multimodal plumbing: binary payload + stubbed decode metadata
    QueryDef("mm_binary_meta",
      s"""SELECT doc_id,
         |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
         |  ${sqlPhash("text")} % 1024 + 1 AS fake_width,
         |  (${sqlPhash("text")} // 1024) % 1024 + 1 AS fake_height
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.fakeDecodeMeta(
        Multimodal.withPayload(load(s, d, "documents"), "text"), "text")
        .select("doc_id", "n_bytes", "fake_width", "fake_height")
        .orderBy("doc_id")
    },

    // multimodal REAL header decode: synthesized PNG/JPEG payloads
    // (structurally valid headers keyed off doc_id) go through the
    // codec seam; the oracle states the dimensions the synthesis used,
    // so a decoder that misreads any offset hash-mismatches
    QueryDef("mm_image_meta",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(doc_id % 2000 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 1200 + 1 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 2000L).toInt + 1
          val h = (id % 1200L).toInt + 1
          val bytes =
            if (id % 2 == 0) graft.ops.ImageCodec.pngHeader(w, h)
            else graft.ops.ImageCodec.jpegHeader(w, h)
          (id, bytes)
        })
      Multimodal.decodeImageMeta(payload).toDF()
        .select("doc_id", "format", "width", "height")
        .orderBy("doc_id")
    },

    // aspect-preserving resize planning (Multimodal.resizeFit): real
    // header decode + exact integer fit-within-640x480 math; every
    // 9th payload is garbage and must route to the unknown/-1 branch.
    // The stubbed pixel transform re-emits a target-size header whose
    // re-decode the spec checks; the oracle here is the closed-form
    // plan over the synthesis dims.
    QueryDef("mm_resize_plan",
      """WITH t AS (SELECT doc_id, doc_id % 2000 + 1 AS w,
        |  doc_id % 1200 + 1 AS h FROM documents),
        |p AS (SELECT doc_id, w, h,
        |  least(1000000, 640000000 // w, 480000000 // h) AS s FROM t)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 'unknown'
        |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1 ELSE w END AS BIGINT)
        |    AS width,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1 ELSE h END AS BIGINT)
        |    AS height,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1 ELSE s END AS BIGINT)
        |    AS scale_ppm,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1
        |    ELSE greatest(1, w * s // 1000000) END AS BIGINT) AS target_w,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1
        |    ELSE greatest(1, h * s // 1000000) END AS BIGINT) AS target_h
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 2000L).toInt + 1
          val h = (id % 1200L).toInt + 1
          val bytes =
            if (id % 9 == 0) Array[Byte](0x42, 0x41, 0x44, 0x00)
            else if (id % 2 == 0) graft.ops.ImageCodec.pngHeader(w, h)
            else graft.ops.ImageCodec.jpegHeader(w, h)
          (id, bytes)
        })
      Multimodal.resizeFit(payload, maxW = 640L, maxH = 480L).toDF()
        .select("doc_id", "format", "width", "height", "scale_ppm",
          "target_w", "target_h")
        .orderBy("doc_id")
    },

    // REAL pixel decode (Multimodal.pixelStats over javax.imageio):
    // per-doc PNGs are REALLY ENCODED from a closed-form pixel
    // gradient keyed off doc_id, decoded back through the raster
    // seam, and reduced to exact integer per-channel sums + floor-div
    // mean luminance — the oracle recomputes the gradient in SQL, so
    // any lossy step (a wrong pixel, a swapped channel, a dimension
    // misread) hash-mismatches. Every 11th payload is garbage and
    // must ROUTE to the corrupt/-1 branch, never throw.
    QueryDef("mm_pixel_stats",
      s"""WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w,
         |  3 + doc_id % 7 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p
         |  WHERE doc_id % 11 <> 0),
         |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
         |  FROM xs),
         |s AS (SELECT doc_id, w, h,
         |  CAST(sum((doc_id + 31 * x + 17 * y) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((7 * doc_id + 5 * x) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((13 * doc_id + 3 * y) % 256) AS BIGINT) AS sum_b
         |  FROM xy GROUP BY 1, 2, 3)
         |SELECT doc_id, 'ok' AS status, CAST(w AS BIGINT) AS width,
         |  CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_px,
         |  sum_r, sum_g, sum_b,
         |  CAST((299 * sum_r + 587 * sum_g + 114 * sum_b) // (w * h)
         |    AS BIGINT) AS lum_e3
         |FROM s
         |UNION ALL
         |SELECT doc_id, 'corrupt', -1, -1, -1, -1, -1, -1, -1 FROM p
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.pixelStats(pixelPayload(s, d)).toDF()
        .withColumn("lum_e3", when(col("status") === "ok",
          call_function("div",
            lit(299L) * col("sum_r") + lit(587L) * col("sum_g") +
              lit(114L) * col("sum_b"), col("n_px")))
          .otherwise(lit(-1L)))
        .select("doc_id", "status", "width", "height", "n_px",
          "sum_r", "sum_g", "sum_b", "lum_e3")
        .orderBy("doc_id")
    },

    // REAL raster resize (Multimodal.resizePixels): decode the same
    // synthesized PNGs, fit-within a 7x5 box with the exact integer
    // plan, NEAREST-NEIGHBOR-sample the raster (src = x'·w div tw —
    // deterministic integer sampling, no interpolation), re-encode
    // losslessly, and decode the RESIZED payload again for its pixel
    // sums. The oracle replays plan + sampling + gradient in SQL —
    // end-to-end proof the emitted payload holds exactly the planned
    // pixels. Corrupt inputs pass through as empty payloads → the
    // corrupt branch downstream.
    QueryDef("mm_pixel_resize",
      s"""WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w,
         |  3 + doc_id % 7 AS h FROM documents),
         |pl AS (SELECT doc_id, w, h,
         |  least(1000000, 7000000 // w, 5000000 // h) AS s FROM p
         |  WHERE doc_id % 11 <> 0),
         |t AS (SELECT doc_id, w, h,
         |  greatest(1, w * s // 1000000) AS tw,
         |  greatest(1, h * s // 1000000) AS th FROM pl),
         |xs AS (SELECT doc_id, w, h, tw, th, unnest(range(0, tw)) AS x
         |  FROM t),
         |xy AS (SELECT doc_id, w, h, tw, th, x,
         |  unnest(range(0, th)) AS y FROM xs),
         |m AS (SELECT doc_id, tw, th, (x * w) // tw AS sx,
         |  (y * h) // th AS sy FROM xy),
         |s2 AS (SELECT doc_id, tw, th,
         |  CAST(sum((doc_id + 31 * sx + 17 * sy) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((7 * doc_id + 5 * sx) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((13 * doc_id + 3 * sy) % 256) AS BIGINT) AS sum_b
         |  FROM m GROUP BY 1, 2, 3)
         |SELECT doc_id, 'ok' AS status, CAST(tw AS BIGINT) AS width,
         |  CAST(th AS BIGINT) AS height, CAST(tw * th AS BIGINT) AS n_px,
         |  sum_r, sum_g, sum_b
         |FROM s2
         |UNION ALL
         |SELECT doc_id, 'corrupt', -1, -1, -1, -1, -1, -1 FROM p
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.pixelStats(
          Multimodal.resizePixels(pixelPayload(s, d), maxW = 7L, maxH = 5L))
        .toDF()
        .select("doc_id", "status", "width", "height", "n_px",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    },

    // Gain-invariant audio fingerprint (Multimodal.audioFingerprint):
    // REAL PCM decode → 33 exact frame energies → 32 energy-contour
    // bits in one non-negative long. The payload's gain variants
    // (same waveform × k) decode to different bytes and energies but
    // the identical contour — the invariance the operator exists
    // for. Twin replays framing, energies and the bit pack; corrupt
    // payloads route.
    QueryDef("mm_audio_fingerprint",
      s"""WITH $sqlAudioFpCtes
         |SELECT doc_id, 'ok' AS status, fp FROM afp
         |UNION ALL
         |SELECT doc_id, 'corrupt', -1 FROM documents
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.audioFingerprint(audioFpPayload(s, d)).toDF()
        .select("doc_id", "status", "fp")
        .orderBy("doc_id")
    },

    // Audio near-dup groups by fingerprint: re-levelled copies of a
    // clip collapse (~10 docs per base at the 500-doc scales) even
    // though every payload's bytes differ. keeper = min doc_id.
    QueryDef("mm_audio_dedup",
      s"""WITH $sqlAudioFpCtes
         |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM afp GROUP BY 1 ORDER BY keeper""".stripMargin) { (s, d) =>
      Multimodal.audioFingerprint(audioFpPayload(s, d)).toDF()
        .filter(col("status") === "ok")
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("keeper")
    },

    // Banded audio NEAR-dup — r15 verdict gap: mm_audio_dedup keys
    // on EXACT fingerprint equality, so a clip with one perturbed
    // energy frame (a glitch, a re-mastered section) never collapsed.
    // Candidates come from radius-1 multi-index probing over four
    // 8-bit bands of the 32-bit contour
    // (Multimodal.fp32BandProbeCandidates — Hamming <= 7 guaranteed
    // by pigeonhole), verified popcount(xor) <= 4. Runs on the
    // controlled-distance payload (REAL PCM decodes whose contour is
    // a closed-form pattern, known pairwise distances 1..4 + gain
    // variation + beyond-threshold distractors). The twin computes
    // truth by BRUTE all-pairs over the closed-form fingerprints —
    // the banding's recall oracle by construction: any pair the
    // multi-probe misses is a row-count/hash mismatch.
    QueryDef("mm_audio_neardup",
      s"""WITH $sqlAudioNearCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM canf a JOIN canf b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 4
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.audioFingerprint(audioNearPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("fp")))
      Multimodal.fp32BandProbeCandidates(hs)
        .withColumn("hamming",
          bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
        .filter(col("hamming") <= 4L)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    },

    // Audio near-dup at PRODUCTION fingerprint width — r16 verdict
    // watch item: the 32-bit contour's 8-bit bands (~n/256 buckets)
    // are a hub hazard at corpus scale. audioFingerprintWide folds 65
    // frame energies into 64 contour bits as (hash_hi, hash_lo)
    // halves — exactly the image tier's shape — so candidates come
    // from the SAME guaranteed-recall 4×16-bit radius-1 multi-probe
    // (dhashBandProbeCandidates, ~n/65536 buckets per band), verified
    // popcount(xor) <= 6. Runs on the widened controlled-distance
    // payload (REAL PCM decodes whose 64-bit contour is closed-form:
    // known pairs at 1..6, gain variation, 8/16/24 distractors). The
    // twin computes truth by BRUTE all-pairs over the closed-form
    // fingerprints — no candidate stage, so any banding recall miss
    // is a row-count/hash mismatch (the mm_image_neardup_recall
    // pricing discipline).
    QueryDef("mm_audio_neardup_wide",
      s"""WITH $sqlAudioNearWideCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
         |    bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
         |FROM wanf a JOIN wanf b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp_hi, b.fp_hi)) +
         |  bit_count(xor(a.fp_lo, b.fp_lo)) <= 6
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.audioFingerprintWide(audioNearWidePayload(s, d))
          .toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      val ham = bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("la").bitwiseXOR(col("lb")))
      Multimodal.dhashBandProbeCandidates(hs)
        .withColumn("hamming", ham.cast("long"))
        .filter(col("hamming") <= 6L)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    },

    // Streaming perceptual media gate e2e (MediaGate on the shared
    // StandingGate): three micro-batches of the brightness-variant
    // images through the standing dHash seen-set — the smallest id
    // claims each hash within a batch, later batches' re-encodes of
    // an admitted image come back dup_of_corpus (new BYTES, seen
    // content), undecodable payloads come back rejected, and batch 2
    // reads THROUGH a committed compaction. The twin replays the
    // full dHash trajectory, the per-batch min-id claims and the
    // unrolled admitted-set chain.
    QueryDef("mm_media_gate_e2e",
      s"""WITH $sqlDHashCtes,
         |hb AS (SELECT doc_id, hash_hi, hash_lo, doc_id % 3 AS b
         |  FROM hs),
         |cl AS (SELECT b, hash_hi, hash_lo, min(doc_id) AS keeper
         |  FROM hb GROUP BY 1, 2, 3),
         |adm0 AS (SELECT DISTINCT h.hash_hi, h.hash_lo FROM hb h
         |  JOIN cl ON cl.b = 0 AND cl.hash_hi = h.hash_hi
         |    AND cl.hash_lo = h.hash_lo AND cl.keeper = h.doc_id
         |  WHERE h.b = 0),
         |adm1 AS (SELECT DISTINCT h.hash_hi, h.hash_lo FROM hb h
         |  JOIN cl ON cl.b = 1 AND cl.hash_hi = h.hash_hi
         |    AND cl.hash_lo = h.hash_lo AND cl.keeper = h.doc_id
         |  WHERE h.b = 1 AND NOT EXISTS (SELECT 1 FROM adm0 a
         |    WHERE a.hash_hi = h.hash_hi AND a.hash_lo = h.hash_lo)),
         |v0 AS (SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |  CASE WHEN h.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM hb h JOIN cl ON cl.b = 0 AND cl.hash_hi = h.hash_hi
         |    AND cl.hash_lo = h.hash_lo WHERE h.b = 0),
         |v1 AS (SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |  CASE WHEN EXISTS (SELECT 1 FROM adm0 a
         |      WHERE a.hash_hi = h.hash_hi AND a.hash_lo = h.hash_lo)
         |    THEN 'dup_of_corpus'
         |    WHEN h.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM hb h JOIN cl ON cl.b = 1 AND cl.hash_hi = h.hash_hi
         |    AND cl.hash_lo = h.hash_lo WHERE h.b = 1),
         |v2 AS (SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |  CASE WHEN EXISTS (SELECT 1 FROM adm0 a
         |      WHERE a.hash_hi = h.hash_hi AND a.hash_lo = h.hash_lo)
         |    OR EXISTS (SELECT 1 FROM adm1 a
         |      WHERE a.hash_hi = h.hash_hi AND a.hash_lo = h.hash_lo)
         |    THEN 'dup_of_corpus'
         |    WHEN h.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM hb h JOIN cl ON cl.b = 2 AND cl.hash_hi = h.hash_hi
         |    AND cl.hash_lo = h.hash_lo WHERE h.b = 2)
         |SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch,
         |  hash_hi, hash_lo, verdict
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
         |  UNION ALL SELECT * FROM v2
         |  UNION ALL SELECT doc_id, -1, -1, 'rejected'
         |  FROM documents WHERE doc_id % 11 = 0)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = mediaGateStateDir(s, d)
      new graft.streaming.MediaGate(s, dir).readVerdicts(2L)
        .select(col("id").as("doc_id"), col("batch"),
          col("hash_hi"), col("hash_lo"), col("verdict"))
        .orderBy("doc_id")
    },

    // Streaming NEAR-dup media gate e2e (NearDupMediaGate — the
    // sixth StandingGate consumer): the MediaGate admission rule
    // upgraded from exact-hash membership to guaranteed-recall
    // Hamming-≤6 matching, driven over the controlled-distance
    // payload in three doc_id%3 micro-batches with a compaction
    // between batches 1 and 2. Within a batch, near-dup COMPONENTS
    // collapse to their min-id canonical (a chain of small edits
    // admits once); across batches, anything within ≤6 of an
    // ADMITTED hash — including content never seen byte- or
    // hash-identically — comes back dup_of_corpus, probed through
    // the banded standing state. The twin replays the full
    // trajectory: per-batch brute ≤6 pair graphs, transitive closure
    // as recursive CTEs, the admitted-set chain, and the
    // prior-batches-only corpus rule.
    QueryDef("mm_media_neardup_gate_e2e",
      s"""WITH RECURSIVE $sqlDHashNearCtes,
         |ngh AS (SELECT doc_id, hash_hi, hash_lo, doc_id % 3 AS b
         |  FROM crh),
         |ngr0 AS (SELECT * FROM ngh WHERE b = 0),
         |ngp0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ngr0 a JOIN ngr0 b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.hash_hi, b.hash_hi))
         |      + bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |ngs0 AS (SELECT id_a AS src, id_b AS dst FROM ngp0
         |  UNION SELECT id_b, id_a FROM ngp0),
         |ngreach0 AS (SELECT src AS id, dst AS r FROM ngs0
         |  UNION SELECT ngreach0.id, ngs0.dst FROM ngreach0
         |    JOIN ngs0 ON ngreach0.r = ngs0.src),
         |ngc0 AS (SELECT id, least(id, min(r)) AS comp FROM ngreach0
         |  GROUP BY id),
         |ngadm0 AS (SELECT h.hash_hi, h.hash_lo FROM ngr0 h
         |  LEFT JOIN ngc0 c ON c.id = h.doc_id
         |  WHERE coalesce(c.comp, h.doc_id) = h.doc_id),
         |ngv0 AS (SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |  CASE WHEN coalesce(c.comp, h.doc_id) <> h.doc_id
         |    THEN 'dup_in_batch' ELSE 'admitted' END AS verdict
         |  FROM ngr0 h LEFT JOIN ngc0 c ON c.id = h.doc_id),
         |ngcd1 AS (SELECT DISTINCT h.doc_id FROM ngh h
         |  JOIN ngadm0 a ON h.b = 1
         |    AND bit_count(xor(h.hash_hi, a.hash_hi))
         |      + bit_count(xor(h.hash_lo, a.hash_lo)) <= 6),
         |ngr1 AS (SELECT * FROM ngh WHERE b = 1
         |  AND doc_id NOT IN (SELECT doc_id FROM ngcd1)),
         |ngp1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ngr1 a JOIN ngr1 b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.hash_hi, b.hash_hi))
         |      + bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |ngs1 AS (SELECT id_a AS src, id_b AS dst FROM ngp1
         |  UNION SELECT id_b, id_a FROM ngp1),
         |ngreach1 AS (SELECT src AS id, dst AS r FROM ngs1
         |  UNION SELECT ngreach1.id, ngs1.dst FROM ngreach1
         |    JOIN ngs1 ON ngreach1.r = ngs1.src),
         |ngc1 AS (SELECT id, least(id, min(r)) AS comp FROM ngreach1
         |  GROUP BY id),
         |ngadm1 AS (SELECT h.hash_hi, h.hash_lo FROM ngr1 h
         |  LEFT JOIN ngc1 c ON c.id = h.doc_id
         |  WHERE coalesce(c.comp, h.doc_id) = h.doc_id),
         |ngv1 AS (
         |  SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |    'dup_of_corpus' AS verdict FROM ngh h
         |  WHERE h.b = 1 AND h.doc_id IN (SELECT doc_id FROM ngcd1)
         |  UNION ALL
         |  SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |    CASE WHEN coalesce(c.comp, h.doc_id) <> h.doc_id
         |      THEN 'dup_in_batch' ELSE 'admitted' END
         |  FROM ngr1 h LEFT JOIN ngc1 c ON c.id = h.doc_id),
         |ngadm01 AS (SELECT * FROM ngadm0
         |  UNION ALL SELECT * FROM ngadm1),
         |ngcd2 AS (SELECT DISTINCT h.doc_id FROM ngh h
         |  JOIN ngadm01 a ON h.b = 2
         |    AND bit_count(xor(h.hash_hi, a.hash_hi))
         |      + bit_count(xor(h.hash_lo, a.hash_lo)) <= 6),
         |ngr2 AS (SELECT * FROM ngh WHERE b = 2
         |  AND doc_id NOT IN (SELECT doc_id FROM ngcd2)),
         |ngp2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ngr2 a JOIN ngr2 b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.hash_hi, b.hash_hi))
         |      + bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |ngs2 AS (SELECT id_a AS src, id_b AS dst FROM ngp2
         |  UNION SELECT id_b, id_a FROM ngp2),
         |ngreach2 AS (SELECT src AS id, dst AS r FROM ngs2
         |  UNION SELECT ngreach2.id, ngs2.dst FROM ngreach2
         |    JOIN ngs2 ON ngreach2.r = ngs2.src),
         |ngc2 AS (SELECT id, least(id, min(r)) AS comp FROM ngreach2
         |  GROUP BY id),
         |ngv2 AS (
         |  SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |    'dup_of_corpus' AS verdict FROM ngh h
         |  WHERE h.b = 2 AND h.doc_id IN (SELECT doc_id FROM ngcd2)
         |  UNION ALL
         |  SELECT h.doc_id, h.hash_hi, h.hash_lo,
         |    CASE WHEN coalesce(c.comp, h.doc_id) <> h.doc_id
         |      THEN 'dup_in_batch' ELSE 'admitted' END
         |  FROM ngr2 h LEFT JOIN ngc2 c ON c.id = h.doc_id)
         |SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch,
         |  hash_hi, hash_lo, verdict
         |FROM (SELECT * FROM ngv0 UNION ALL SELECT * FROM ngv1
         |  UNION ALL SELECT * FROM ngv2
         |  UNION ALL SELECT doc_id, -1, -1, 'rejected'
         |  FROM documents WHERE doc_id % 11 = 0)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = nearDupGateStateDir(s, d)
      new graft.streaming.NearDupMediaGate(s, dir).readVerdicts(2L)
        .select(col("id").as("doc_id"), col("batch"),
          col("hash_hi"), col("hash_lo"), col("verdict"))
        .orderBy("doc_id")
    },

    // Per-frame video dHash (Multimodal.videoFrameDHash): the image
    // dHash core through the AVI frame walk — container corruption
    // one row at frame_idx -1, a single bad frame its own
    // corrupt_frame row with the rest of the clip unharmed. Twin
    // replays every frame's sampling/grayscale/pack.
    QueryDef("mm_video_dhash",
      s"""WITH $sqlVideoDHashCtes
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         |  'ok' AS status, hash_hi, hash_lo FROM vhs
         |UNION ALL
         |SELECT doc_id, CAST(f AS BIGINT), 'corrupt_frame', -1, -1
         |FROM vfr WHERE g % 7 = 3 AND f = 0
         |UNION ALL
         |SELECT doc_id, -1, 'corrupt', -1, -1 FROM documents
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.videoFrameDHash(videoFpPayload(s, d)).toDF()
        .select("doc_id", "frame_idx", "status", "hash_hi", "hash_lo")
        .orderBy("doc_id", "frame_idx")
    },

    // Video near-dup groups: the video key is the ORDERED frame
    // dHash sequence (corrupt frames pinned as -1:-1 at their
    // index), so brightness-shifted re-encodes of a clip collapse
    // frame-for-frame while any frame edit separates. Container
    // corruption excluded; keeper = min doc_id.
    QueryDef("mm_video_dedup",
      s"""WITH $sqlVideoDHashCtes,
         |vall AS (SELECT doc_id, f, hash_hi, hash_lo FROM vhs
         |  UNION ALL SELECT doc_id, f, -1, -1 FROM vfr
         |  WHERE g % 7 = 3 AND f = 0),
         |vk AS (SELECT doc_id, string_agg(hash_hi || ':' || hash_lo,
         |    ',' ORDER BY f) AS vkey FROM vall GROUP BY doc_id)
         |SELECT vkey, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM vk GROUP BY 1 ORDER BY keeper""".stripMargin) { (s, d) =>
      val fr = Multimodal.videoFrameDHash(videoFpPayload(s, d)).toDF()
        .filter(col("status") =!= "corrupt")
      fr.groupBy("doc_id")
        .agg(array_join(transform(array_sort(collect_list(struct(
            col("frame_idx"),
            concat(col("hash_hi").cast("string"), lit(":"),
              col("hash_lo").cast("string")).as("s")))),
          x => x.getField("s")), ",").as("vkey"))
        .groupBy("vkey")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("keeper")
    },

    // Video NEAR-dup by frame-set overlap — r15 verdict gap:
    // mm_video_dedup keys on the exact ORDERED frame-hash sequence,
    // so a one-frame re-edit of a clip never collapsed. The video's
    // near-dup signature is its DISTINCT frame-dHash set: candidate
    // pairs share at least one exact frame hash (an equi-join on
    // (hash_hi, hash_lo) — frames are the natural LSH band here,
    // never all-pairs), verified by set Jaccard >= 1/2 kept in exact
    // integers (3·shared >= n_a + n_b ⟺ shared/union >= 1/2; jac_ppm
    // = floor(10⁶·shared/union) for the report). On the edited-frame
    // payload a one-frame edit of an nf-frame clip scores
    // (nf−1)/(nf+1) ∈ {0.5, 0.6, 0.67} — collapses — while unrelated
    // clips share nothing. At corpus scale a viral frame (intros,
    // test patterns) is a hub key: the lexical tier's bucket-cap
    // discipline applies per frame hash.
    QueryDef("mm_video_neardup",
      s"""WITH $sqlVideoNearCtes,
         |wn AS (SELECT doc_id, count(*) AS n FROM wset GROUP BY 1),
         |wsh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  count(*) AS n_shared
         |  FROM wset a JOIN wset b
         |    ON a.hash_hi = b.hash_hi AND a.hash_lo = b.hash_lo
         |      AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared, na.n AS n_a, nb.n AS n_b,
         |  1000000 * n_shared // (na.n + nb.n - n_shared) AS jac_ppm
         |FROM wsh JOIN wn na ON na.doc_id = id_a
         |  JOIN wn nb ON nb.doc_id = id_b
         |WHERE 3 * n_shared >= na.n + nb.n
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val sets = graft.ops.Materialize.cut(
        Multimodal.videoFrameDHash(videoNearPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select("doc_id", "hash_hi", "hash_lo").distinct())
      val nOf = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sets.select(col("doc_id").as("id_a"), col("hash_hi"),
        col("hash_lo"))
      val b = sets.select(col("doc_id").as("id_b"), col("hash_hi"),
        col("hash_lo"))
      a.join(b, Seq("hash_hi", "hash_lo"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .join(nOf.select(col("doc_id").as("id_a"), col("n").as("n_a")),
          "id_a")
        .join(nOf.select(col("doc_id").as("id_b"), col("n").as("n_b")),
          "id_b")
        .filter(lit(3L) * col("n_shared") >= col("n_a") + col("n_b"))
        .withColumn("jac_ppm", expr(
          "1000000 * n_shared div (n_a + n_b - n_shared)"))
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", "jac_ppm")
        .orderBy("id_a", "id_b")
    },

    // RADIUS-AWARE video near-dup — the production tier closing the
    // r16 verdict gap: mm_video_neardup's candidates require one
    // EXACTLY equal frame hash, so a lossy re-encode perturbing EVERY
    // frame by 1–2 bits never candidates despite tiny per-frame
    // Hamming. Here two frames count as the same scene when their
    // dHash Hamming is <= 6, found by the guaranteed-recall 4×16-bit
    // radius-1 multi-probe PER FRAME (dhashBandProbeCandidates keyed
    // by clip id: same-clip pairs drop out of id_a < id_b, so the
    // equi-join yields exactly the cross-clip near-matching frame
    // pairs — never all-pairs; a viral hub frame inherits the lexical
    // tier's bucket-cap discipline). A clip pair collapses when a
    // MAJORITY of each side's distinct frames near-match the other
    // (2·matched >= n on both sides, exact integers). The payload
    // shifts every frame of variant v by exactly f(v) bits, so the
    // every-frame-1-bit re-encode (v=0 vs v=1) MUST collapse while
    // 8/16/24-bit distractors must not. The twin brute-forces ALL
    // frame pairs with no candidate stage — a banding recall miss
    // shows up as a count mismatch, pricing the probe the way
    // mm_image_neardup_recall does.
    QueryDef("mm_video_neardup_r1",
      s"""WITH $sqlVideoR1Ctes,
         |rn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM r1set GROUP BY 1),
         |rfp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.hash_hi AS ha, a.hash_lo AS la,
         |  b.hash_hi AS hb, b.hash_lo AS lb
         |  FROM r1set a JOIN r1set b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
         |    bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |rmt AS (SELECT id_a, id_b,
         |  CAST(count(DISTINCT ha || ':' || la) AS BIGINT) AS matched_a,
         |  CAST(count(DISTINCT hb || ':' || lb) AS BIGINT) AS matched_b
         |  FROM rfp GROUP BY 1, 2)
         |SELECT id_a, id_b, matched_a, matched_b, na.n AS n_a,
         |  nb.n AS n_b
         |FROM rmt JOIN rn na ON na.doc_id = id_a
         |  JOIN rn nb ON nb.doc_id = id_b
         |WHERE 2 * matched_a >= na.n AND 2 * matched_b >= nb.n
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val fr = graft.ops.Materialize.cut(
        Multimodal.videoFrameDHash(videoR1Payload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select("doc_id", "hash_hi", "hash_lo").distinct())
      val nOf = fr.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val ham = bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("la").bitwiseXOR(col("lb")))
      Multimodal.dhashBandProbeCandidates(
          fr.select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
        .filter(ham <= 6)
        .groupBy("id_a", "id_b")
        .agg(countDistinct(struct(col("ha"), col("la")))
            .as("matched_a"),
          countDistinct(struct(col("hb"), col("lb"))).as("matched_b"))
        .join(nOf.select(col("doc_id").as("id_a"), col("n").as("n_a")),
          "id_a")
        .join(nOf.select(col("doc_id").as("id_b"), col("n").as("n_b")),
          "id_b")
        .filter(lit(2L) * col("matched_a") >= col("n_a") &&
          lit(2L) * col("matched_b") >= col("n_b"))
        .select("id_a", "id_b", "matched_a", "matched_b", "n_a", "n_b")
        .orderBy("id_a", "id_b")
    },

    // Streaming CLIP near-dup gate e2e (VideoGate — StandingGate
    // consumer #7): three micro-batches of the controlled-distance
    // clips through the standing majority-of-frames Hamming-≤6
    // seen-set, with a committed compaction between batches 1 and 2.
    // A re-encode perturbing EVERY frame of an admitted clip comes
    // back dup_of_corpus in a later batch; within a batch the match
    // components collapse to the min-id canonical; corrupt containers
    // route to rejected. The twin replays the whole trajectory from
    // the closed-form frame hashes: brute-force frame near-matches
    // (no candidate stage — any probe recall miss in the gate is a
    // hash mismatch), the two-sided majority fold, per-batch
    // RECURSIVE transitive closure for the in-batch components, and
    // the unrolled admitted-set chain across batches.
    QueryDef("mm_video_gate_e2e",
      s"""WITH RECURSIVE $sqlVideoR1Ctes,
         |vnn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM r1set GROUP BY 1),
         |vfp AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
         |  a.hash_hi AS xh, a.hash_lo AS xl,
         |  b.hash_hi AS yh, b.hash_lo AS yl
         |  FROM r1set a JOIN r1set b ON a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
         |    bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |vmm AS (SELECT ia, ib,
         |  count(DISTINCT xh || ':' || xl) AS ma,
         |  count(DISTINCT yh || ':' || yl) AS mb
         |  FROM vfp GROUP BY 1, 2),
         |vmp AS (SELECT m.ia, m.ib FROM vmm m
         |  JOIN vnn na ON na.doc_id = m.ia
         |  JOIN vnn nb ON nb.doc_id = m.ib
         |  WHERE 2 * m.ma >= na.n AND 2 * m.mb >= nb.n),
         |vge0 AS (SELECT ia AS src, ib AS dst FROM vmp
         |  WHERE ia % 3 = 0 AND ib % 3 = 0),
         |vgr0 AS (SELECT src AS id, dst AS r FROM vge0
         |  UNION SELECT vgr0.id, vge0.dst FROM vgr0
         |    JOIN vge0 ON vgr0.r = vge0.src),
         |vgc0 AS (SELECT id, least(id, min(r)) AS comp FROM vgr0
         |  GROUP BY id),
         |vadm0 AS (SELECT n.doc_id FROM vnn n
         |  LEFT JOIN vgc0 c ON c.id = n.doc_id
         |  WHERE n.doc_id % 3 = 0
         |    AND coalesce(c.comp, n.doc_id) = n.doc_id),
         |vcd1 AS (SELECT DISTINCT p.ia AS doc_id FROM vmp p
         |  JOIN vadm0 a ON a.doc_id = p.ib WHERE p.ia % 3 = 1),
         |vge1 AS (SELECT ia AS src, ib AS dst FROM vmp
         |  WHERE ia % 3 = 1 AND ib % 3 = 1
         |    AND ia NOT IN (SELECT doc_id FROM vcd1)
         |    AND ib NOT IN (SELECT doc_id FROM vcd1)),
         |vgr1 AS (SELECT src AS id, dst AS r FROM vge1
         |  UNION SELECT vgr1.id, vge1.dst FROM vgr1
         |    JOIN vge1 ON vgr1.r = vge1.src),
         |vgc1 AS (SELECT id, least(id, min(r)) AS comp FROM vgr1
         |  GROUP BY id),
         |vadm1 AS (SELECT n.doc_id FROM vnn n
         |  LEFT JOIN vgc1 c ON c.id = n.doc_id
         |  WHERE n.doc_id % 3 = 1
         |    AND n.doc_id NOT IN (SELECT doc_id FROM vcd1)
         |    AND coalesce(c.comp, n.doc_id) = n.doc_id),
         |vadm01 AS (SELECT doc_id FROM vadm0
         |  UNION ALL SELECT doc_id FROM vadm1),
         |vcd2 AS (SELECT DISTINCT p.ia AS doc_id FROM vmp p
         |  JOIN vadm01 a ON a.doc_id = p.ib WHERE p.ia % 3 = 2),
         |vge2 AS (SELECT ia AS src, ib AS dst FROM vmp
         |  WHERE ia % 3 = 2 AND ib % 3 = 2
         |    AND ia NOT IN (SELECT doc_id FROM vcd2)
         |    AND ib NOT IN (SELECT doc_id FROM vcd2)),
         |vgr2 AS (SELECT src AS id, dst AS r FROM vge2
         |  UNION SELECT vgr2.id, vge2.dst FROM vgr2
         |    JOIN vge2 ON vgr2.r = vge2.src),
         |vgc2 AS (SELECT id, least(id, min(r)) AS comp FROM vgr2
         |  GROUP BY id),
         |vv0 AS (SELECT n.doc_id, n.n,
         |  CASE WHEN coalesce(c.comp, n.doc_id) <> n.doc_id
         |    THEN 'dup_in_batch' ELSE 'admitted' END AS verdict
         |  FROM vnn n LEFT JOIN vgc0 c ON c.id = n.doc_id
         |  WHERE n.doc_id % 3 = 0),
         |vv1 AS (SELECT n.doc_id, n.n,
         |  CASE WHEN cd.doc_id IS NOT NULL THEN 'dup_of_corpus'
         |    WHEN coalesce(c.comp, n.doc_id) <> n.doc_id
         |      THEN 'dup_in_batch' ELSE 'admitted' END
         |  FROM vnn n LEFT JOIN vcd1 cd ON cd.doc_id = n.doc_id
         |    LEFT JOIN vgc1 c ON c.id = n.doc_id
         |  WHERE n.doc_id % 3 = 1),
         |vv2 AS (SELECT n.doc_id, n.n,
         |  CASE WHEN cd.doc_id IS NOT NULL THEN 'dup_of_corpus'
         |    WHEN coalesce(c.comp, n.doc_id) <> n.doc_id
         |      THEN 'dup_in_batch' ELSE 'admitted' END
         |  FROM vnn n LEFT JOIN vcd2 cd ON cd.doc_id = n.doc_id
         |    LEFT JOIN vgc2 c ON c.id = n.doc_id
         |  WHERE n.doc_id % 3 = 2)
         |SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch,
         |  n AS n_frames, verdict
         |FROM (SELECT * FROM vv0 UNION ALL SELECT * FROM vv1
         |  UNION ALL SELECT * FROM vv2
         |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), 'rejected'
         |  FROM documents WHERE doc_id % 11 = 0)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = videoGateStateDir(s, d)
      new graft.streaming.VideoGate(s, dir).readVerdicts(2L)
        .select(col("id").as("doc_id"), col("batch"),
          col("n_frames"), col("verdict"))
        .orderBy("doc_id")
    },

    // Banded perceptual NEAR-dup (the production form — exact dHash
    // equality only catches identical contours): multi-index Hamming
    // probing (Norouzi et al., CVPR 2012 — see
    // Multimodal.dhashBandProbeCandidates): four 16-bit bands, the
    // probe side expanded by the 17 radius-1 ball values per band,
    // candidates equi-join on exact (band_idx, value), verified by
    // exact popcount(xor) <= 6. The pigeonhole is now real: <= 6
    // errors over 4 bands leave some band with <= 1, which the
    // radius-1 expansion catches — GUARANTEED recall at the verify
    // threshold (exact-band-only matching, the pre-r16 form, only
    // guaranteed <= 3), priced by mm_image_neardup_recall. Candidate
    // generation stays an equi-join — never all-pairs — at 68 probe
    // rows per hash over a 16-bit band space that keeps buckets
    // ~n/65536 at corpus scale.
    QueryDef("mm_image_neardup",
      s"""WITH $sqlDHashCtes,
         |$sqlDHashBandPairCtes
         |SELECT id_a, id_b, hamming FROM ipair
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // cut once: the self-join references the hash frame on BOTH
      // sides, and without the cut each side re-runs the full-corpus
      // decode (the mapPartitions seam has no plan-level reuse)
      val hs = graft.ops.Materialize.cut(
        Multimodal.imageDHash(dhashPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      val ham = bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("la").bitwiseXOR(col("lb")))
      Multimodal.dhashBandProbeCandidates(hs)
        .withColumn("hamming", ham.cast("long"))
        .filter(col("hamming") <= 6L)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    },

    // Perceptual near-dup CLUSTERING — the lexical tier's
    // components/canonical composition at the image tier: connected
    // components over the guaranteed-recall multi-probe pair graph
    // (shared ipair CTEs), every document labeled with its
    // component's min doc id. Corrupt payloads stay singleton
    // components of themselves. Spark runs min-label propagation to
    // fixpoint over the pair-sized subgraph; the twin computes the
    // same fixpoint as a recursive transitive-closure CTE — two very
    // different algorithms agreeing pins both (the
    // doc_dup_components discipline).
    QueryDef("mm_image_dup_components",
      s"""WITH RECURSIVE $sqlDHashCtes,
         |$sqlDHashBandPairCtes,
         |e AS (SELECT id_a, id_b FROM ipair),
         |$sqlComponentTail
         |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp,
         |  d.doc_id = coalesce(c.comp, d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.imageDHash(dhashPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      val ham = bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("la").bitwiseXOR(col("lb")))
      val pairs = Multimodal.dhashBandProbeCandidates(hs)
        .filter(ham <= 6)
        .select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      load(s, d, "documents").select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"),
          (col("doc_id") === coalesce(col("comp"), col("doc_id")))
            .as("is_canonical"))
        .orderBy("doc_id")
    },

    // RECALL oracle for the banded perceptual near-dup tier — the
    // r15 verdict's gap: the banding comment claimed a pigeonhole
    // guarantee the 4-exact-band math didn't support, and nothing
    // priced what banding missed. This query prices it per-pair on
    // the controlled-distance payload (REAL 9×8 decodes whose dHash
    // is a closed-form pattern with KNOWN pairwise distances 1..6 +
    // beyond-threshold distractors): truth = every pair at Hamming
    // <= 6, caught = the production multi-probe generator's
    // candidates. THREE independent exact derivations pin each
    // other — Spark truth via 8×8-bit-band pigeonhole (d <= 7 forces
    // a zero-error band), DuckDB truth via brute all-pairs, caught
    // via the 4×16 radius-1 multi-probe in both. With multi-index
    // probing the <= 6 guarantee is real, so caught must be 1 on
    // every row — a banding regression flips a 0 into this frame and
    // the oracle hash catches it.
    QueryDef("mm_image_neardup_recall",
      s"""WITH $sqlDHashNearCtes,
         |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.hash_hi, b.hash_hi)) +
         |  bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
         |  FROM crh a JOIN crh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
         |    bit_count(xor(a.hash_lo, b.hash_lo)) <= 6),
         |bands AS (
         |  SELECT doc_id, 0 AS bi, hash_lo & 65535 AS bv FROM crh
         |  UNION ALL SELECT doc_id, 1, (hash_lo >> 16) & 65535 FROM crh
         |  UNION ALL SELECT doc_id, 2, hash_hi & 65535 FROM crh
         |  UNION ALL SELECT doc_id, 3, (hash_hi >> 16) & 65535 FROM crh),
         |mask AS (SELECT CAST(0 AS BIGINT) AS m
         |  UNION ALL SELECT CAST(1 AS BIGINT) << CAST(i AS INT)
         |  FROM (SELECT unnest(range(0, 16)) AS i)),
         |probe AS (SELECT b.doc_id, b.bi, xor(b.bv, k.m) AS bv
         |  FROM bands b, mask k),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM probe a JOIN bands b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT t.id_a, t.id_b, CAST(t.hamming AS BIGINT) AS hamming,
         |  CAST(CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS caught
         |FROM truth t LEFT JOIN cand c
         |  ON c.id_a = t.id_a AND c.id_b = t.id_b
         |ORDER BY t.id_a, t.id_b""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.imageDHash(dhashNearPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      val truth = Multimodal.dhashExactPairs(hs, maxDist = 6)
      val banded = Multimodal.dhashBandProbeCandidates(hs)
        .select(col("id_a"), col("id_b")).withColumn("__hit", lit(1))
      truth.join(banded, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("hamming"),
          when(col("__hit").isNull, 0L).otherwise(1L).as("caught"))
        .orderBy("id_a", "id_b")
    },

    // CAPPED perceptual near-dup — the band-key entropy guard under
    // fire (r16 verdict watch item: hash spaces narrower than their
    // nominal width turn band values into hubs; the sub-grid video
    // frames did exactly this at 32k rows before being caught by
    // hand). The payload PLANTS the archetypal degenerate cluster —
    // ~12% of the corpus as flat images, all dHash zero — so every
    // band has one bucket far over the cap. With bandCap = 16 the
    // probe (Multimodal.dhashBandProbeCandidates) keeps the exact
    // radius-1 join on light buckets, collapses each heavy bucket to
    // a STAR around its min-id hub (O(m) rows, not m²/2), and leaves
    // only the hub probe-able for cross-bucket radius-1 neighbors;
    // every edge still passes the exact popcount <= 6 verify. The
    // twin replays the same capped semantics from the closed-form
    // hashes — bucket census, hub election, light probe join, star —
    // so cap drift on either side is a hash mismatch, the
    // doc_dedup_minhash_capped discipline at the perceptual tier.
    QueryDef("mm_image_neardup_capped",
      s"""WITH $sqlDHashHubCtes,
         |cbands AS (
         |  SELECT doc_id, hash_hi, hash_lo, 0 AS bi,
         |    hash_lo & 65535 AS bv FROM hubh
         |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 1,
         |    (hash_lo >> 16) & 65535 FROM hubh
         |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 2,
         |    hash_hi & 65535 FROM hubh
         |  UNION ALL SELECT doc_id, hash_hi, hash_lo, 3,
         |    (hash_hi >> 16) & 65535 FROM hubh),
         |cbn AS (SELECT bi, bv, count(*) AS bn, min(doc_id) AS hub
         |  FROM cbands GROUP BY 1, 2),
         |clight AS (SELECT c.doc_id, c.hash_hi, c.hash_lo, c.bi, c.bv
         |  FROM cbands c JOIN cbn n USING (bi, bv) WHERE n.bn <= 16),
         |chubs AS (SELECT DISTINCT n.hub AS doc_id, h.hash_hi,
         |    h.hash_lo, n.bi, n.bv
         |  FROM cbn n JOIN hubh h ON h.doc_id = n.hub WHERE n.bn > 16),
         |ckept AS (SELECT * FROM clight
         |  UNION ALL SELECT * FROM chubs),
         |cmask AS (SELECT CAST(0 AS BIGINT) AS m
         |  UNION ALL SELECT CAST(1 AS BIGINT) << CAST(i AS INT)
         |  FROM (SELECT unnest(range(0, 16)) AS i)),
         |cprobe AS (SELECT k.doc_id, k.bi, xor(k.bv, m.m) AS bv
         |  FROM ckept k, cmask m),
         |cjoin AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         |  greatest(a.doc_id, b.doc_id) AS id_b
         |  FROM cprobe a JOIN ckept b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id <> b.doc_id),
         |cstar AS (SELECT DISTINCT n.hub AS id_a, c.doc_id AS id_b
         |  FROM cbands c JOIN cbn n USING (bi, bv)
         |  WHERE n.bn > 16 AND c.doc_id <> n.hub),
         |cpairs AS (SELECT DISTINCT id_a, id_b FROM
         |  (SELECT * FROM cjoin UNION ALL SELECT * FROM cstar))
         |SELECT p.id_a, p.id_b,
         |  CAST(bit_count(xor(xa.hash_hi, xb.hash_hi)) +
         |    bit_count(xor(xa.hash_lo, xb.hash_lo)) AS BIGINT)
         |    AS hamming
         |FROM cpairs p JOIN hubh xa ON xa.doc_id = p.id_a
         |  JOIN hubh xb ON xb.doc_id = p.id_b
         |WHERE bit_count(xor(xa.hash_hi, xb.hash_hi)) +
         |  bit_count(xor(xa.hash_lo, xb.hash_lo)) <= 6
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.imageDHash(dhashHubPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      val ham = bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("la").bitwiseXOR(col("lb")))
      Multimodal.dhashBandProbeCandidates(hs, bandCap = 16)
        .withColumn("hamming", ham.cast("long"))
        .filter(col("hamming") <= 6L)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    },

    // The cap's LOUD half: the band-bucket census
    // (Multimodal.dhashHeavyBands) a production run logs or sinks so
    // a degenerate hash cluster is an alert, not a silent star
    // collapse. On the planted payload every band's zero bucket
    // must surface with its exact size — the twin counts the same
    // buckets from the closed-form hashes.
    QueryDef("mm_image_heavy_bands",
      s"""WITH $sqlDHashHubCtes,
         |cbands AS (
         |  SELECT doc_id, 0 AS bi, hash_lo & 65535 AS bv FROM hubh
         |  UNION ALL SELECT doc_id, 1, (hash_lo >> 16) & 65535
         |    FROM hubh
         |  UNION ALL SELECT doc_id, 2, hash_hi & 65535 FROM hubh
         |  UNION ALL SELECT doc_id, 3, (hash_hi >> 16) & 65535
         |    FROM hubh)
         |SELECT CAST(bi AS BIGINT) AS bi, bv,
         |  CAST(count(*) AS BIGINT) AS bucket_n
         |FROM cbands GROUP BY bi, bv HAVING count(*) > 16
         |ORDER BY bi, bv""".stripMargin) { (s, d) =>
      val hs = graft.ops.Materialize.cut(
        Multimodal.imageDHash(dhashHubPayload(s, d)).toDF()
          .filter(col("status") === "ok")
          .select(col("doc_id").as("id"), col("hash_hi"),
            col("hash_lo")))
      Multimodal.dhashHeavyBands(hs, 16)
        .select(col("bi").cast("long").as("bi"), col("bv"),
          col("bucket_n"))
        .orderBy("bi", "bv")
    },

    // Perceptual difference-hash (Multimodal.imageDHash): REAL
    // decode → integer grayscale → 9×8 nearest-neighbor grid → 64
    // horizontal-gradient bits as two 32-bit halves. The payload's
    // brightness variants (same gradient, per-doc uniform +o) decode
    // to DIFFERENT bytes but identical dHash — the invariance the
    // operator exists for. The twin replays sampling, grayscale and
    // the bit pack over the synthesis formula; corrupt payloads
    // route, never throw.
    QueryDef("mm_image_dhash",
      s"""WITH $sqlDHashCtes
         |SELECT doc_id, 'ok' AS status, hash_hi, hash_lo FROM hs
         |UNION ALL
         |SELECT doc_id, 'corrupt', -1, -1 FROM documents
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.imageDHash(dhashPayload(s, d)).toDF()
        .select("doc_id", "status", "hash_hi", "hash_lo")
        .orderBy("doc_id")
    },

    // Perceptual near-dup groups: group the corpus by its dHash —
    // the brightness-shifted re-encodes collapse (~10 docs per base
    // image at the 500-doc scales) even though every payload's BYTES
    // differ, which is exactly what content-hash dedup cannot do.
    // keeper = min doc_id (first sight wins), corrupt rows excluded.
    QueryDef("mm_image_dedup",
      s"""WITH $sqlDHashCtes
         |SELECT hash_hi, hash_lo, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM hs GROUP BY 1, 2 ORDER BY keeper""".stripMargin) { (s, d) =>
      Multimodal.imageDHash(dhashPayload(s, d)).toDF()
        .filter(col("status") === "ok")
        .groupBy("hash_hi", "hash_lo")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("keeper")
    },

    // REAL audio-header decode through the same seam: per-doc WAV
    // headers synthesized deterministically from doc_id (every 7th
    // payload malformed → the all -1 branch), parsed back by the
    // pure-JVM RIFF walker; the oracle is the closed form. The
    // duration is exact integer µs — floor division on both sides.
    QueryDef("mm_audio_meta",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    ELSE 1 + doc_id % 2 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000
        |    ELSE 44100 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS BIGINT) AS bits,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    ELSE doc_id % 50000 + 100 END AS BIGINT) AS n_audio_frames,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    ELSE (doc_id % 50000 + 100) * 1000000 //
        |      (CASE WHEN doc_id % 3 = 0 THEN 8000
        |            WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END)
        |    END AS BIGINT) AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 7 == 0) "not audio".getBytes("US-ASCII")
            else graft.ops.AudioCodec.wavHeader(
              (1 + id % 2).toInt,
              Seq(8000L, 16000L, 44100L)((id % 3).toInt),
              if (id % 5 == 0) 8 else 16,
              id % 50000 + 100)
          (id, bytes)
        })
      Multimodal.decodeAudioMeta(payload).toDF()
        .select("doc_id", "channels", "sample_rate", "bits",
          "n_audio_frames", "duration_us")
        .orderBy("doc_id")
    },

    // REAL PCM sample decode (Multimodal.audioPcmStats over
    // javax.sound's own RIFF reader — nothing shared with our WAV
    // writer): per-doc 16-bit mono clips REALLY ENCODED from a
    // closed-form sample formula (every 13th doc drives the formula
    // past full scale, exercising the clip rails; every 11th payload
    // is garbage → the corrupt branch). Exact integer loudness/
    // energy/peak/clip census; the oracle recomputes every sample.
    QueryDef("mm_audio_pcm_stats",
      s"""WITH p AS (SELECT doc_id, 50 + doc_id % 97 AS n,
         |  8000 + (doc_id % 5) * 1000 AS sr FROM documents),
         |xs AS (SELECT doc_id, n, sr, unnest(range(0, n)) AS i FROM p
         |  WHERE doc_id % 11 <> 0),
         |v AS (SELECT doc_id, n, sr,
         |  CASE WHEN doc_id % 13 = 0
         |    THEN (((doc_id * 31 + i * 17) % 4001) - 2000) * 20
         |    ELSE ((doc_id * 31 + i * 17) % 4001) - 2000 END AS w
         |  FROM xs),
         |s AS (SELECT doc_id, n, sr,
         |  least(32767, greatest(-32768, w)) AS s FROM v),
         |g AS (SELECT doc_id, n, sr,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
         |  CAST(max(abs(s)) AS BIGINT) AS peak,
         |  CAST(sum(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clipped
         |  FROM s GROUP BY 1, 2, 3)
         |SELECT doc_id, 'ok' AS status, CAST(1 AS BIGINT) AS channels,
         |  CAST(sr AS BIGINT) AS sample_rate, CAST(n AS BIGINT)
         |    AS n_samples,
         |  sum_abs, sum_sq, peak, n_clipped
         |FROM g
         |UNION ALL
         |SELECT doc_id, 'corrupt', -1, -1, -1, -1, -1, -1, -1 FROM p
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
            else {
              val n = (50L + id % 97L).toInt
              val samples = Array.tabulate[Short](n) { i =>
                val v = ((id * 31L + i * 17L) % 4001L) - 2000L
                val w = if (id % 13L == 0L) v * 20L else v
                math.min(32767L, math.max(-32768L, w)).toShort
              }
              graft.ops.AudioCodec.encodeWav(
                8000L + (id % 5L) * 1000L, samples)
            }
          (id, bytes)
        })
      Multimodal.audioPcmStats(payload).toDF()
        .select("doc_id", "status", "channels", "sample_rate",
          "n_samples", "sum_abs", "sum_sq", "peak", "n_clipped")
        .orderBy("doc_id")
    },

    // REAL ISO-BMFF (MP4) metadata decode (VideoCodec.decodeMeta):
    // synthesized-but-structurally-real box trees — ftyp, interleaved
    // free boxes, moov{mvhd,trak{tkhd}} in BOTH the v0 and v1 box
    // layouts (doc_id parity) — decoded by walking declared box
    // sizes, never fixed offsets; every 11th payload is garbage and
    // must route to the unknown/-1 branch. The oracle is the closed
    // form of the same doc_id-derived parameters, duration in exact
    // integer µs.
    QueryDef("mm_video_meta",
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 600 WHEN doc_id % 3 = 1
        |    THEN 1000 ELSE 90000 END AS ts FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN 'unknown' ELSE 'isom' END AS brand,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN -1 ELSE ts END
        |    AS BIGINT) AS timescale,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN -1
        |    ELSE (doc_id % 36000 + ts) * 1000000 // ts END
        |    AS BIGINT) AS duration_us,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN -1
        |    ELSE doc_id % 1920 + 1 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN -1
        |    ELSE doc_id % 1080 + 1 END AS BIGINT) AS height
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 11 == 0) "not a video".getBytes("US-ASCII")
            else graft.ops.VideoCodec.mp4Header(
              Seq(600L, 1000L, 90000L)((id % 3).toInt),
              id % 36000 + Seq(600L, 1000L, 90000L)((id % 3).toInt),
              id % 1920 + 1, id % 1080 + 1,
              version = (id % 2).toInt)
          (id, bytes)
        })
      Multimodal.decodeVideoMeta(payload).toDF()
        .select("doc_id", "brand", "timescale", "duration_us",
          "width", "height")
        .orderBy("doc_id")
    },

    // REAL video FRAME pixel decode (Multimodal.videoFramePixelStats):
    // per-doc AVI containers REALLY MUXED (VideoCodec.encodeAvi,
    // PNG-in-AVI so the round trip is lossless) around 1–4 frames of
    // a closed-form per-frame gradient, then demuxed by the
    // independent RIFF walker and pixel-decoded per frame through the
    // same budgeted seam as mm_pixel_stats. Every 11th doc's
    // CONTAINER is garbage → one ("corrupt", -1) row; docs ≡3 mod 7
    // carry a garbage FRAME 0 → a ("corrupt_frame", 0) row with the
    // remaining frames decoding fine — both routed, never thrown.
    // The oracle replays frames × gradient in SQL.
    QueryDef("mm_frame_pixels",
      s"""WITH p AS (SELECT doc_id, 1 + doc_id % 4 AS nf FROM documents),
         |fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM p
         |  WHERE doc_id % 11 <> 0),
         |ok AS (SELECT doc_id, f FROM fr
         |  WHERE NOT (doc_id % 7 = 3 AND f = 0)),
         |d AS (SELECT doc_id, f, 3 + (doc_id + f) % 5 AS w,
         |  2 + (doc_id + 2 * f) % 4 AS h FROM ok),
         |xs AS (SELECT doc_id, f, w, h, unnest(range(0, w)) AS x FROM d),
         |xy AS (SELECT doc_id, f, w, h, x, unnest(range(0, h)) AS y
         |  FROM xs),
         |s AS (SELECT doc_id, f, w, h,
         |  CAST(sum((doc_id + 7 * f + 31 * x + 17 * y) % 256) AS BIGINT)
         |    AS sum_r,
         |  CAST(sum((5 * doc_id + 11 * f + 3 * x) % 256) AS BIGINT)
         |    AS sum_g,
         |  CAST(sum((3 * doc_id + 13 * f + 5 * y) % 256) AS BIGINT)
         |    AS sum_b
         |  FROM xy GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, 'ok' AS status,
         |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(w * h AS BIGINT) AS n_px, sum_r, sum_g, sum_b
         |FROM s
         |UNION ALL
         |SELECT doc_id, CAST(f AS BIGINT), 'corrupt_frame',
         |  -1, -1, -1, -1, -1, -1 FROM fr
         |WHERE doc_id % 7 = 3 AND f = 0
         |UNION ALL
         |SELECT doc_id, -1, 'corrupt', -1, -1, -1, -1, -1, -1 FROM p
         |WHERE doc_id % 11 = 0
         |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      import s.implicits._
      val payload = load(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 11L == 0L) Array[Byte](0x42, 0x41, 0x44, 0x00)
            else {
              val nf = (1L + id % 4L).toInt
              val frames = (0 until nf).map { f =>
                if (id % 7L == 3L && f == 0)
                  Array[Byte](0x4e, 0x4f, 0x50, 0x45)
                else {
                  val w = (3L + (id + f) % 5L).toInt
                  val h = (2L + (id + 2L * f) % 4L).toInt
                  graft.ops.ImageCodec.encodePng(w, h, (x, y) =>
                    ((((id + 7L * f + 31L * x + 17L * y) % 256L).toInt << 16) |
                      (((5L * id + 11L * f + 3L * x) % 256L).toInt << 8) |
                      ((3L * id + 13L * f + 5L * y) % 256L).toInt))
                }
              }
              graft.ops.VideoCodec.encodeAvi("MPNG", 8, 8, 40000L, frames)
            }
          (id, bytes)
        })
      Multimodal.videoFramePixelStats(payload).toDF()
        .select("doc_id", "frame_idx", "status", "width", "height",
          "n_px", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id", "frame_idx")
    },

    // multimodal frame-sampling plumbing (stub feature)
    QueryDef("mm_frame_sample",
      """WITH f AS (SELECT doc_id,
        |  CAST(length(text) // 64 AS BIGINT) AS n_frames,
        |  list_filter(range(0, greatest(length(text) // 64, 0)),
        |    f -> f % 2 = 0) AS offs, text
        |  FROM documents)
        |SELECT doc_id, n_frames, CAST(len(offs) AS BIGINT) AS n_sampled,
        |  CAST(coalesce(list_sum(list_transform(offs,
        |    f -> CAST(ascii(substr(text, (f * 64 + 1)::INT, 1)) AS BIGINT))), 0)
        |    AS BIGINT) AS frame_feature_sum
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.sampleFrames(load(s, d, "documents"), "text", 64, 2)
        .select("doc_id", "n_frames", "n_sampled", "frame_feature_sum")
        .orderBy("doc_id")
    },

    // count-min frequency sketch (Sketch.countMin): depth×width
    // integer counters built in ONE map-side-combining aggregation;
    // the corpus's top tokens are probed against the sketch and the
    // exact counts ride alongside — every estimate must be >= exact
    // (min-of-counters never undercounts) and the twin rebuilds the
    // identical counter table from the shared hash family.
    QueryDef("doc_token_cmsketch", {
      val buildRows = (0 until CmDepth).map(j =>
        s"  SELECT $j AS j, ${graft.ops.Sketch.cmBucketSqlOver("hh", j, CmWidth)} AS b FROM h")
        .mkString("\n  UNION ALL\n")
      val probeRows = (0 until CmDepth).map(j =>
        s"  SELECT tok, n_exact, $j AS j, ${graft.ops.Sketch.cmBucketSqlOver("hh", j, CmWidth)} AS b FROM tp")
        .mkString("\n  UNION ALL\n")
      s"""WITH toks AS (SELECT unnest($sqlToks) AS tok FROM documents),
         |h AS (SELECT ${sqlSampleHash("tok")} AS hh FROM toks),
         |cnt AS (SELECT j, b, count(*) AS c FROM (
         |$buildRows) GROUP BY j, b),
         |top AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok
         |  ORDER BY n_exact DESC, tok LIMIT $CmProbeK),
         |tp AS (SELECT tok, n_exact, ${sqlSampleHash("tok")} AS hh FROM top),
         |pb AS (
         |$probeRows),
         |est AS (SELECT tok, n_exact, min(c) AS n_est
         |  FROM pb JOIN cnt USING (j, b) GROUP BY tok, n_exact)
         |SELECT tok, n_exact, n_est, n_est - n_exact AS overcount
         |FROM est ORDER BY n_exact DESC, tok""".stripMargin
    }) { (s, d) =>
      val toks = load(s, d, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
      val cm = graft.ops.Sketch.countMin(toks, col("tok"),
        depth = CmDepth, width = CmWidth)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(CmProbeK)
        .collect()
      import s.implicits._
      top.toSeq.map { r =>
        val t = r.getString(0); val n = r.getLong(1)
        val est = cm.estimate(sampleHashLocal(t))
        (t, n, est, est - n)
      }.toDF("tok", "n_exact", "n_est", "overcount")
        .orderBy(col("n_exact").desc, col("tok"))
    },

    // weighted sampling without replacement (Efraimidis–Spirakis,
    // PipelineOps.weightedSample): priorities ln(u)/w from the id
    // hash, k largest win — longer documents proportionally more
    // likely, deterministic across engines, O(k) TakeOrdered. Both
    // sides rank by the same transcendental priority but emit only
    // the integer/string columns (see the operator scaladoc).
    QueryDef("doc_weighted_sample",
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |  (CAST(${sqlSampleHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |     + 1.0) / ${PhMod + 1}.0 AS u
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         |s AS (SELECT doc_id, source, n_chars FROM t
         |  ORDER BY ln(u) / CAST(n_chars AS DOUBLE) DESC, doc_id
         |  LIMIT $WeightedSampleK)
         |SELECT doc_id, source, n_chars FROM s
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.weightedSample(
          load(s, d, "documents").select("doc_id", "source", "n_chars"),
          col("doc_id"), col("n_chars"), k = WeightedSampleK)
        .orderBy("doc_id")
    },

    // JSONL ingest (graft.sources.FileIngest): the corpus dumped once
    // to JSON-lines part files (TempState, rep 1 pays the dump), read
    // back through the one-pass parse+quarantine split, and checked
    // row-for-row against the parquet original — a lossy reader,
    // dropped line, or mis-coerced field breaks the hash. The oracle
    // reads the PARQUET table: the JSONL path must agree with it.
    QueryDef("doc_jsonl_roundtrip",
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "jsonl|" + s.sparkContext.applicationId + "|" + d) { r =>
        graft.sources.FileIngest.writeJsonl(docs, s"$r/docs_jsonl")
      }
      graft.sources.FileIngest.jsonl(s, s"$dir/docs_jsonl", docs.schema)
        .good
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // WebDataset-style tar shard roundtrip (ops.TarShards): the
    // corpus packed once into POSIX ustar shards of 256 consecutive
    // ids (TempState; rep 1 pays the pack), read back through a
    // whole-file binary scan + checksum-verified header parse, and
    // checked byte-for-byte (length + content hash) against the
    // parquet original — a dropped sample, truncated payload, or
    // misread size field breaks the hash. Spec compliance against
    // the system tar binary is pinned in TarShardsSpec.
    QueryDef("doc_tar_roundtrip",
      s"""SELECT doc_id,
         |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         |  ${sqlPhash("text")} AS text_hash
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "tar|" + s.sparkContext.applicationId + "|" + d) { r =>
        graft.ops.TarShards.write(docs, "doc_id", "text",
          s"$r/shards", docsPerShard = 256)
      }
      graft.ops.TarShards.read(s, s"$dir/shards")
        .select(
          expr("CAST(substring(name, 1, 12) AS BIGINT)").as("doc_id"),
          col("n_bytes"),
          portableHash(col("payload").cast("string")).as("text_hash"))
        .orderBy("doc_id")
    },

    // range-pruned shard read (TarShards.readRange): the shard name
    // IS the partition index — an id-range predicate opens only the
    // shards whose [s·N, (s+1)·N) range overlaps, 2 files here
    // instead of all of them, the same file-skipping contract as the
    // point-read path. The oracle is the plain range scan: pruning
    // must be invisible in the result.
    QueryDef("doc_tar_range",
      s"""SELECT doc_id,
         |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
         |FROM documents WHERE doc_id >= 300 AND doc_id < 560
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "tar|" + s.sparkContext.applicationId + "|" + d) { r =>
        graft.ops.TarShards.write(docs, "doc_id", "text",
          s"$r/shards", docsPerShard = 256)
      }
      graft.ops.TarShards.readRange(s, s"$dir/shards",
          docsPerShard = 256, loId = 300, hiId = 560)
        .select(
          expr("CAST(substring(name, 1, 12) AS BIGINT)").as("doc_id"),
          col("n_bytes"))
        .orderBy("doc_id")
    },

    // schema-evolution union read (FileIngest.parquetUnion): two
    // parquet "eras" of the corpus — the early half written WITHOUT
    // (source, n_chars), the late half WITHOUT text — read back as
    // one by-name-merged frame with nulls where an era lacks the
    // column. The oracle states the expected null pattern directly,
    // so a read that takes one era's schema (dropping columns) or
    // misaligns by position breaks immediately.
    QueryDef("doc_union_read",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN text END AS text,
        |  lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "punion|" + s.sparkContext.applicationId + "|" + d) { r =>
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.parquet(s"$r/era0")
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "lang", "source", "n_chars")
          .write.parquet(s"$r/era1")
      }
      graft.sources.FileIngest.parquetUnion(s,
          Seq(s"$dir/era0", s"$dir/era1"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // unigram surprisal (TextOps.unigramSurprisal): the LM-perplexity
    // proxy — the corpus's own unigram distribution prices tokens at
    // -ln(p) quantized once per DISTINCT token to micro-nats, so
    // per-document totals are exact integer sums on both engines.
    // High mean cost = the docs a perplexity filter drops.
    QueryDef("doc_unigram_surprisal",
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
        |p AS (SELECT tok,
        |  CAST(round(-ln(CAST(cnt AS DOUBLE) / total) * 1000000)
        |    AS BIGINT) AS cost_e6 FROM v, tot),
        |d AS (SELECT t.doc_id, count(*) AS n_toks,
        |  CAST(sum(p.cost_e6) AS BIGINT) AS cost_e6
        |  FROM t JOIN p USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, coalesce(d.n_toks, 0) AS n_toks,
        |  coalesce(d.cost_e6, 0) AS cost_e6,
        |  CASE WHEN coalesce(d.n_toks, 0) > 0
        |    THEN CAST(d.cost_e6 AS DOUBLE) / CAST(d.n_toks AS DOUBLE)
        |    ELSE 0.0 END AS mean_cost_e6
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.unigramSurprisal(load(s, d, "documents"),
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_toks"), col("cost_e6"),
          col("mean_cost_e6"))
        .orderBy("doc_id")
    },

    // Unicode normalization (NormalizeTextExpr, codegen'd with an
    // ASCII byte-scan short-circuit): the corpus is pure ASCII, so the
    // fixture DENORMALIZES it first — every 'a' becomes 'a'+U+0301
    // (combining acute) — and the oracle then checks NFC re-composes
    // to the precomposed 'á' and accent-strip folds back to the plain
    // letter, character-for-character against DuckDB's
    // nfc_normalize/strip_accents. Codepoint lengths ride along so a
    // normalizer that merely passes text through breaks the hash.
    QueryDef("doc_normalize",
      """WITH inj AS (SELECT doc_id,
        |  replace(text, 'a', 'a' || chr(769)) AS r FROM documents)
        |SELECT doc_id, nfc_normalize(r) AS nfc_text,
        |  strip_accents(nfc_normalize(r)) AS stripped,
        |  CAST(length(r) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(r)) AS BIGINT) AS n_nfc
        |FROM inj ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.functions.NativeExpressions._
      // the DECOMPOSED sequence 'a' + U+0301, written as an escape so
      // the source file's own encoding can never re-compose it
      val r = regexp_replace(col("text"), "a", "a\u0301")
      load(s, d, "documents")
        .select(col("doc_id"),
          nfcNative(r).as("nfc_text"),
          stripAccentsNative(nfcNative(r)).as("stripped"),
          length(r).cast("long").as("n_raw"),
          length(nfcNative(r)).cast("long").as("n_nfc"))
        .orderBy("doc_id")
    },

    // source-affinity PageRank (GraphOps): sources become a weighted
    // graph through shared RARE trigrams (rarity-capped, so
    // boilerplate carries no affinity and the pair join stays
    // bounded), then 3 damped PageRank rounds rank each source's
    // centrality in the content-sharing graph — the content-farm /
    // syndication-ring detector. Rank state is integer e9 and every
    // edge transfer quantizes to e12 BEFORE summation, so the twin
    // replays the exact trajectory with unrolled CTEs.
    QueryDef("doc_source_pagerank",
      s"""WITH ${affinityPairsCtes("")},
         |${prTrajectoryCtes("")}
         |SELECT s AS source, pr AS pr_e9 FROM p$PrIters
         |ORDER BY source""".stripMargin) { (s, d) =>
      val edges = GraphOps.sharedShingleEdges(load(s, d, "documents"),
        col("source"), col("text"), PrShingleW, PrSrcCap)
      GraphOps.pageRank(edges, PrIters)
        .select(col("node").as("source"), col("pr_e9"))
        .orderBy("source")
    },

    // DOC-level PageRank over the capped near-dup pair graph
    // (GraphOps.pageRank, similarity-weighted edges): centrality as
    // the canonical-document signal — inside a duplication cluster
    // the most-connected, most-similar-to-everyone member is the one
    // a keep-best policy should favor. Exercises the iteration on a
    // DOCUMENT-sized node domain (the r11 advice seam: the final
    // ranks now hand back via localCheckpoint, never a driver
    // funnel). Isolated docs (no near-dup edge) have no affinity
    // evidence and are the caller's join-back, as in the source form.
    QueryDef("doc_dup_pagerank",
      s"""WITH $sqlMinhashCappedPairCtes,
         |dppairs AS (SELECT id_a AS sa, id_b AS sb,
         |  CAST(round(jac * 1e6) AS BIGINT) AS w FROM mj
         |  WHERE jac >= $MinhashJaccard),
         |${prTrajectoryCtes("dp")}
         |SELECT s AS doc_id, pr AS pr_e9 FROM dpp$PrIters
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard,
        bucketCap = MinhashBucketCap)
        .select(col("id_a").as("s_a"), col("id_b").as("s_b"),
          round(col("jac") * 1000000d, 0).cast("long").as("w"))
      GraphOps.pageRank(pairs, PrIters)
        .select(col("node").as("doc_id"), col("pr_e9"))
        .orderBy("doc_id")
    },

    // per-source triangle count + local clustering coefficient
    // (GraphOps.triangleCount) over the same affinity graph: the
    // tight-knit-ring detector PageRank's centrality misses — a
    // syndication clique is triangle-dense even when no member is
    // globally central. Degree-ordered orientation bounds the wedge
    // fan-out at O(m^1.5) total and pushes hub skew onto the probe
    // side of an equi-join; the twin replays orientation, wedge, and
    // directed closure verbatim, so each triangle counts exactly once
    // in both engines.
    QueryDef("doc_affinity_triangles",
      s"""WITH ${affinityPairsCtes("")},
         |${triangleCtes("")}
         |SELECT source, deg, tri, lcc_e6 FROM tric
         |ORDER BY source""".stripMargin) { (s, d) =>
      val edges = GraphOps.sharedShingleEdges(load(s, d, "documents"),
        col("source"), col("text"), PrShingleW, PrSrcCap)
      GraphOps.triangleCount(edges)
        .select(col("node").as("source"), col("deg"), col("tri"),
          col("lcc_e6"))
        .orderBy("source")
    },

    // the consumable syndication verdict (GraphOps.
    // syndicationSuspects): near-dup pollution, affinity PageRank and
    // triangle clustering — three signals the pipeline already
    // computes separately — joined into ONE ranked per-source suspect
    // table. suspect ⇔ above-uniform centrality (pr·|V| > 1e9) AND
    // clustering ≥ ½ (2·lcc_e6 ≥ 1e6); score = pr_e9·lcc_e6; rk =
    // deterministic row_number. The twin composes the SAME CTE
    // builders the standalone twins use (the graph family carries a
    // `g` prefix so its names can co-reside with the minhash/
    // component family), so none of the three trajectories can drift
    // between the standalone and composed forms.
    QueryDef("doc_syndication_suspects",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes,
         |lab AS (SELECT d.doc_id, d.source,
         |  coalesce(c.comp, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |srcdup AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (comp <> doc_id) AS BIGINT) AS n_dups
         |  FROM lab GROUP BY source),
         |${affinityPairsCtes("g")},
         |${prTrajectoryCtes("g")},
         |${triangleCtes("g")},
         |j AS (SELECT sd.source, sd.n_docs, sd.n_dups,
         |  coalesce(p.pr, 0) AS pr_e9,
         |  coalesce(tc.deg, 0) AS deg, coalesce(tc.tri, 0) AS tri,
         |  coalesce(tc.lcc_e6, 0) AS lcc_e6
         |  FROM srcdup sd
         |  LEFT JOIN gp$PrIters p ON p.s = sd.source
         |  LEFT JOIN gtric tc ON tc.source = sd.source)
         |SELECT source, n_docs, n_dups, pr_e9, deg, tri, lcc_e6,
         |  pr_e9 * lcc_e6 AS score,
         |  pr_e9 * (SELECT n FROM gnn) > 1000000000
         |    AND lcc_e6 * 2 >= 1000000 AS suspect,
         |  CAST(row_number() OVER (ORDER BY pr_e9 * lcc_e6 DESC, source)
         |    AS BIGINT) AS rk
         |FROM j ORDER BY rk""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val perSource = docs.select(col("doc_id"), col("source"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("is_dup",
          coalesce(col("comp"), col("doc_id")) =!= col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      val edges = GraphOps.sharedShingleEdges(load(s, d, "documents"),
        col("source"), col("text"), PrShingleW, PrSrcCap)
      GraphOps.syndicationSuspectsFromEdges(perSource, edges, PrIters)
        .orderBy("rk")
    },

    // Naive-Bayes log-odds scorer (TextOps.naiveBayesLogOdds): the
    // CCNet-style model-based filter in closed form, self-trained here
    // on the lang label (positive = 'en'). The twin replays the whole
    // train+score pipeline — smoothed counts, micro-nat-quantized
    // per-token LLRs, prior, exact integer doc sums — so a drifted
    // count, smoothing constant, or prior breaks the hash.
    QueryDef("doc_nb_score",
      """WITH d0 AS (SELECT doc_id, lang = 'en' AS pos,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS w FROM documents),
        |t AS (SELECT doc_id, pos, unnest(w) AS tok FROM d0),
        |v AS (SELECT tok,
        |  sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |  sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
        |  FROM t GROUP BY tok),
        |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS vv FROM v),
        |pr AS (SELECT CAST(round(ln(
        |    CAST(count(*) FILTER (WHERE pos) AS DOUBLE) /
        |    CAST(count(*) FILTER (WHERE NOT pos) AS DOUBLE)) * 1000000)
        |  AS BIGINT) AS prior_e6 FROM d0),
        |p AS (SELECT tok, CAST(round(
        |    (ln((cp + 1.0) / CAST(tp + vv AS DOUBLE)) -
        |     ln((cn + 1.0) / CAST(tn + vv AS DOUBLE))) * 1000000)
        |  AS BIGINT) AS llr_e6 FROM v, tot),
        |s AS (SELECT t.doc_id, count(*) AS n_toks,
        |  CAST(sum(p.llr_e6) AS BIGINT) AS llr_e6
        |  FROM t JOIN p USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, coalesce(s.n_toks, 0) AS n_toks,
        |  coalesce(s.llr_e6, 0) AS llr_e6,
        |  coalesce(s.llr_e6, 0) + pr.prior_e6 AS score_e6,
        |  coalesce(s.llr_e6, 0) + pr.prior_e6 > 0 AS predicted
        |FROM d0 LEFT JOIN s USING (doc_id), pr
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.naiveBayesLogOdds(load(s, d, "documents"),
          col("doc_id"), col("text"), col("lang") === "en")
        .select(col("id").as("doc_id"), col("n_toks"), col("llr_e6"),
          col("score_e6"), col("predicted"))
        .orderBy("doc_id")
    },

    // per-source weighted sampling (PipelineOps.weightedSamplePerStratum):
    // A-ES priorities ranked per stratum through graft_topk's
    // partial combine — a stratum holding most of the corpus never
    // funnels through one sorted partition. The twin replays the
    // identical quantized priorities with a window; neither side
    // emits the transcendental priority (ids and ranks only).
    QueryDef("doc_weighted_sample_by_source",
      s"""WITH t AS (SELECT source, doc_id, n_chars,
         |  (CAST(${sqlSampleHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |     + 1.0) / ${PhMod + 1}.0 AS u
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         |p AS (SELECT source, doc_id,
         |  CAST(least(greatest(
         |    round(ln(u) / CAST(n_chars AS DOUBLE) * 1000000000000.0),
         |    -9.0e18), 9.0e18) AS BIGINT) AS pri FROM t),
         |r AS (SELECT source, doc_id, row_number() OVER
         |  (PARTITION BY source ORDER BY pri DESC, doc_id) AS rnk FROM p)
         |SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id
         |FROM r WHERE rnk <= $StratumSampleK
         |ORDER BY source, rank""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.weightedSamplePerStratum(
          load(s, d, "documents"),
          col("source"), col("doc_id"), col("n_chars"),
          k = StratumSampleK)
        .select(col("stratum").as("source"), col("rank"),
          col("id").as("doc_id"))
        .orderBy("source", "rank")
    },

    // JSONL schema audit (FileIngest.auditJsonl): the pre-load drift
    // report — per top-level key, presence and numeric/boolean value
    // counts off one generic map parse. The oracle derives the
    // expected report from the PARQUET table's schema and row count
    // (every column non-null in this corpus; doc_id/n_chars numeric),
    // so a parse that drops keys, miscounts, or misguesses types
    // breaks the hash. Output is O(#keys).
    QueryDef("doc_jsonl_audit",
      """WITH n AS (SELECT count(*) AS c FROM documents)
        |SELECT k AS key, c AS n_present,
        |  CASE WHEN k IN ('doc_id', 'n_chars') THEN c ELSE 0 END
        |    AS n_numeric,
        |  CAST(0 AS BIGINT) AS n_boolean
        |FROM n, unnest(['doc_id', 'lang', 'n_chars', 'source', 'text'])
        |  AS t(k)
        |ORDER BY key""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "jsonl|" + s.sparkContext.applicationId + "|" + d) { r =>
        graft.sources.FileIngest.writeJsonl(docs, s"$r/docs_jsonl")
      }
      graft.sources.FileIngest.auditJsonl(s, s"$dir/docs_jsonl")
        .orderBy("key")
    },

    // headerless-CSV ingest: same roundtrip contract through the
    // from_csv split (quoting, separators, and numeric coercion are
    // where CSV readers silently lose data — the hash check catches
    // all of them)
    QueryDef("doc_csv_roundtrip",
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      val dir = TempState.dir(
        "csv|" + s.sparkContext.applicationId + "|" + d) { r =>
        graft.sources.FileIngest.writeCsv(docs, s"$r/docs_csv")
      }
      graft.sources.FileIngest.csv(s, s"$dir/docs_csv", docs.schema)
        .good
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // byte-level BPE: the learned merge sequence itself, oracle-pinned
    // — the twin RETRAINS the tokenizer in SQL (BpeMerges unrolled
    // iterations of pair-count → argmax → replace over the
    // word-frequency table), so count weighting, the (count desc,
    // pair asc) tie-break, and left-to-right application all have to
    // agree step by step (the emb_kmeans trajectory-pinning pattern).
    QueryDef("doc_bpe_merges",
      bpeTrainCtes(BpeMerges) +
        (1 to BpeMerges).map(r =>
          s"SELECT $r AS rank, (SELECT p FROM b${r - 1}) AS p")
          .mkString("sel AS (", " UNION ALL ", ")\n") +
        """SELECT CAST(rank AS BIGINT) AS rank,
          |  string_split(p, ')(')[1] AS a, string_split(p, ')(')[2] AS b
          |FROM sel ORDER BY rank""".stripMargin) { (s, d) =>
      import s.implicits._
      bpeMergesFor(s, d).zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m.a, m.b) }
        .toDF("rank", "a", "b").orderBy("rank")
    },

    // byte-level BPE application (Bpe.tokenStats): per-document
    // subword token counts under the corpus-trained merges — the
    // production token-budget estimator (doc_token_estimate's BPE
    // mode). Application is a zero-shuffle projection: the merge
    // table folds over each word as nested replace calls on the
    // delimited symbol string, and the delimiters make greedy
    // left-to-right merging exact on both engines.
    QueryDef("doc_bpe_tokenize",
      bpeTrainCtes(BpeMerges) +
        s"""ns AS (SELECT w, CAST((length(sym) -
           |    length(replace(sym, ')(', ''))) / 2 + 1 AS BIGINT) AS n
           |  FROM w$BpeMerges),
           |d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(ns.n) AS BIGINT) AS n_bpe_tokens
           |  FROM toks t JOIN ns ON ns.w = t.w GROUP BY t.doc_id)
           |SELECT doc_id,
           |  coalesce(d.n_words, 0) AS n_words,
           |  coalesce(d.n_bpe_tokens, 0) AS n_bpe_tokens
           |FROM documents LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Bpe.tokenStats(load(s, d, "documents"),
          col("doc_id"), col("text"), bpeMergesFor(s, d))
        .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // the PRODUCTION BPE apply, driver-certified: the same unrolled
    // training twin as doc_bpe_tokenize, but the Spark side is forced
    // through the native rank-greedy expression (graft_bpe_segment —
    // constant expression depth, per-word cost independent of vocab
    // size, the form a 32-50k production merge table requires). A
    // hash match here is the driver's own proof that the native apply
    // is byte-equal to the replace fold the SQL replays.
    QueryDef("doc_bpe_tokenize_native",
      bpeTrainCtes(BpeMerges) +
        s"""ns AS (SELECT w, CAST((length(sym) -
           |    length(replace(sym, ')(', ''))) / 2 + 1 AS BIGINT) AS n
           |  FROM w$BpeMerges),
           |d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(ns.n) AS BIGINT) AS n_bpe_tokens
           |  FROM toks t JOIN ns ON ns.w = t.w GROUP BY t.doc_id)
           |SELECT doc_id,
           |  coalesce(d.n_words, 0) AS n_words,
           |  coalesce(d.n_bpe_tokens, 0) AS n_bpe_tokens
           |FROM documents LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Bpe.tokenStats(load(s, d, "documents"),
          col("doc_id"), col("text"), bpeMergesFor(s, d),
          forceNative = true)
        .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // exact duplicated-SPAN detection (Dedup.dupSpans): substring-level
    // dedup — every 16-token window hashed positionally, corpus-wide
    // occurrence counts, >1 survivors merged into maximal spans via a
    // per-doc island window. The twin replays the identical window
    // hash and merge rule, so position arithmetic, the overlap-or-
    // adjacency merge, and the hash join all have to agree.
    QueryDef("doc_dup_spans",
      s"""WITH $sqlDupSpanCtes
         |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
         |  CAST(span_len_toks AS BIGINT) AS span_len_toks
         |FROM sp ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      Dedup.dupSpans(load(s, d, "documents"), col("doc_id"), col("text"),
          DupSpanW)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_len_toks"))
        .orderBy("doc_id", "span_start")
    },

    // dup-span roll-up (Dedup.dupSpanStats): the per-document filter
    // view — span count, duplicated-token coverage, exact integer
    // dup fraction; every document present (zeros when clean)
    QueryDef("doc_dup_span_stats",
      s"""WITH $sqlDupSpanCtes,
         |agg AS (SELECT doc_id, count(*) AS n_spans,
         |  sum(span_len_toks) AS dup_toks FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_toks,
         |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.dup_toks, 0) AS BIGINT) AS dup_toks,
         |  CASE WHEN len(t.w) > 0 THEN
         |    CAST(coalesce(a.dup_toks, 0) AS DOUBLE) /
         |      CAST(len(t.w) AS DOUBLE)
         |  ELSE 0.0 END AS dup_frac
         |FROM t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dupSpanStats(load(s, d, "documents"), col("doc_id"),
          col("text"), DupSpanW)
        .select(col("id").as("doc_id"), col("n_toks"), col("n_spans"),
          col("dup_toks"), col("dup_frac"))
        .orderBy("doc_id")
    },

    // per-source duplicated-span rollup: the curation diagnostic
    // (WHICH source is polluting the corpus with repeated passages) —
    // composes dupSpanStats with the source dimension, exact integer
    // token ratios
    QueryDef("doc_dup_span_rate_by_source",
      s"""WITH $sqlDupSpanCtes,
         |agg AS (SELECT doc_id, count(*) AS n_spans,
         |  sum(span_len_toks) AS dup_toks FROM sp GROUP BY doc_id),
         |j AS (SELECT d.source, t.doc_id, len(t.w) AS n_toks,
         |  coalesce(a.dup_toks, 0) AS dup_toks,
         |  coalesce(a.n_spans, 0) AS n_spans
         |  FROM t JOIN documents d USING (doc_id)
         |  LEFT JOIN agg a USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_hit,
         |  CAST(sum(n_toks) AS BIGINT) AS n_toks,
         |  CAST(sum(dup_toks) AS BIGINT) AS dup_toks,
         |  CAST(sum(dup_toks) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE)
         |    AS dup_rate
         |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
      Dedup.dupSpanStats(docs, col("doc_id"), col("text"), DupSpanW)
        .join(docs.select(col("doc_id"), col("source")),
          col("id") === col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
          sum(col("n_toks")).as("n_toks"),
          sum(col("dup_toks")).as("dup_toks"))
        .withColumn("dup_rate",
          col("dup_toks").cast("double") / col("n_toks").cast("double"))
        .orderBy("source")
    },

    // character-distribution entropy (TextOps.charEntropy): the
    // zero-shuffle "is this natural text" gate — both engines unroll
    // the same 37 length/replace counts from one alphabet constant
    QueryDef("doc_char_entropy", sqlCharEntropy) { (s, d) =>
      graft.ops.TextOps.charEntropy(load(s, d, "documents"),
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_alpha"), col("nlogn_e6"),
          col("ln_n_e6"), col("entropy_e6"))
        .orderBy("doc_id")
    },

    // leakage-safe split (PipelineOps.leakageSafeSplit): train/val/
    // test assignment keyed on the near-dup component REPRESENTATIVE
    // — near-identical documents can never straddle the train/test
    // fence. Composes the minhash pair graph + CC fixpoint with the
    // split-hash; the twin replays all three stages.
    QueryDef("doc_leakage_safe_split",
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |$sqlComponentCtes,
         |lab AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, rep,
         |  CASE WHEN ${sqlSampleHash("CAST(rep AS VARCHAR)")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${sqlSampleHash("CAST(rep AS VARCHAR)")} % 100 < 95
         |    THEN 'val' ELSE 'test' END AS split
         |FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents")
        .withColumn("hs", Dedup.tokenHashSet(col("text")))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "hs",
        MinhashK, RowsPerBand, MinhashJaccard)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.ops.PipelineOps.leakageSafeSplit(
          docs.select(col("doc_id")), col("doc_id"), comp,
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy("doc_id")
    },

    // duplicated-span REMOVAL (Dedup.stripDupSpans): the cleaning
    // half — tokens under any maximal span dropped, document
    // reassembled in order. The twin replays the span chain and
    // rebuilds via a positional anti-EXISTS + ordered string_agg,
    // so index arithmetic on BOTH half-open span ends must agree.
    QueryDef("doc_strip_dup_spans",
      s"""WITH $sqlDupSpanCtes,
         |posu AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w
         |  FROM t),
         |tok AS (SELECT doc_id, i, w[i] AS tk FROM posu),
         |kp AS (SELECT tok.doc_id, i, tk FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = tok.doc_id AND i >= sp.span_start
         |      AND i < sp.span_start + sp.span_len_toks)),
         |re AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tk, ' ' ORDER BY i) AS clean_text
         |  FROM kp GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_toks,
         |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(re.clean_text, '') AS clean_text
         |FROM t LEFT JOIN re USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.stripDupSpans(load(s, d, "documents"), col("doc_id"),
          col("text"), DupSpanW)
        .select(col("id").as("doc_id"), col("n_toks"), col("n_kept"),
          col("clean_text"))
        .orderBy("doc_id")
    },

    // prefix-blocked edit-distance pairs (Dedup.editDistancePairs):
    // the record-linkage fuzzy-join primitive — exact 12-char block
    // equi-join (never a cross product), Levenshtein over 48-char
    // prefixes, lev <= 6 kept. Both engines' classic Levenshtein
    // must agree cell for cell.
    QueryDef("doc_fuzzy_pairs",
      s"""WITH t AS (SELECT doc_id,
         |  array_to_string($sqlToks, ' ') AS norm FROM documents),
         |n AS (SELECT doc_id, substr(norm, 1, $FuzzyBlockLen) AS blk,
         |  substr(norm, 1, $FuzzyPrefixLen) AS pfx FROM t),
         |k AS (SELECT blk FROM n GROUP BY blk
         |  HAVING count(*) <= $FuzzyBlockCap),
         |b AS (SELECT n.* FROM n JOIN k USING (blk)),
         |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |  levenshtein(a.pfx, b2.pfx) AS lev
         |  FROM b a JOIN b b2
         |    ON a.blk = b2.blk AND a.doc_id < b2.doc_id)
         |SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev
         |FROM p WHERE lev <= $FuzzyMaxDist
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.editDistancePairs(load(s, d, "documents"), col("doc_id"),
          col("text"), FuzzyBlockLen, FuzzyPrefixLen, FuzzyMaxDist,
          FuzzyBlockCap)
        .orderBy("id_a", "id_b")
    },

    // streaming span-gate e2e (SpanGate): two batches (even doc_ids,
    // then odd) through the incremental substring-dedup gate — batch
    // 0 sees only within-batch window repeats, batch 1 probes the
    // admitted-batch-0 hash corpus AND itself. The twin restates both
    // batches declaratively (window hashes → per-batch dup criteria →
    // island merge → coverage → admission), so the gate's replay
    // guard, corpus growth rule (admitted docs only), and span
    // geometry all have to agree with the batch operator's.
    QueryDef("doc_span_gate_e2e",
      s"""WITH $sqlWindowCtes,
         |g0 AS (SELECT * FROM g WHERE doc_id % 2 = 0),
         |g1 AS (SELECT * FROM g WHERE doc_id % 2 = 1),
         |c0 AS (SELECT h FROM g0 GROUP BY h HAVING count(*) > 1),
         |hits0 AS (SELECT DISTINCT doc_id, s FROM g0 JOIN c0 USING (h)),
         |${sqlSpanMergeCtes("0")},
         |a0 AS (SELECT doc_id, sum(span_len_toks) AS dup_toks
         |  FROM sp0 GROUP BY doc_id),
         |v0 AS (SELECT t.doc_id, CAST(0 AS BIGINT) AS batch,
         |  CAST(len(t.w) AS BIGINT) AS n_toks,
         |  CAST(coalesce(a0.dup_toks, 0) AS BIGINT) AS dup_toks,
         |  CASE WHEN len(t.w) > 0 THEN
         |    CAST(coalesce(a0.dup_toks, 0) AS DOUBLE) /
         |      CAST(len(t.w) AS DOUBLE) ELSE 0.0 END AS dup_frac
         |  FROM t LEFT JOIN a0 USING (doc_id) WHERE t.doc_id % 2 = 0),
         |ch AS (SELECT DISTINCT g0.h FROM g0 JOIN v0 USING (doc_id)
         |  WHERE v0.dup_frac <= $SpanGateFrac),
         |c1 AS (SELECT h FROM g1 GROUP BY h HAVING count(*) > 1
         |  UNION SELECT h FROM ch),
         |hits1 AS (SELECT DISTINCT doc_id, s FROM g1 JOIN c1 USING (h)),
         |${sqlSpanMergeCtes("1")},
         |a1 AS (SELECT doc_id, sum(span_len_toks) AS dup_toks
         |  FROM sp1 GROUP BY doc_id),
         |v1 AS (SELECT t.doc_id, CAST(1 AS BIGINT) AS batch,
         |  CAST(len(t.w) AS BIGINT) AS n_toks,
         |  CAST(coalesce(a1.dup_toks, 0) AS BIGINT) AS dup_toks,
         |  CASE WHEN len(t.w) > 0 THEN
         |    CAST(coalesce(a1.dup_toks, 0) AS DOUBLE) /
         |      CAST(len(t.w) AS DOUBLE) ELSE 0.0 END AS dup_frac
         |  FROM t LEFT JOIN a1 USING (doc_id) WHERE t.doc_id % 2 = 1)
         |SELECT doc_id, batch, n_toks, dup_toks, dup_frac,
         |  dup_frac <= $SpanGateFrac AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = spanGateStateDir(s, d)
      new graft.streaming.SpanGate(s, dir, w = DupSpanW,
          maxDupFrac = SpanGateFrac)
        .readVerdicts(1L)
        .select(col("doc_id"), col("batch"), col("n_toks"),
          col("dup_toks"), col("dup_frac"), col("admitted"))
        .orderBy("doc_id")
    },

    // greedy packing under a SUBWORD budget (Bpe.tokenStats +
    // PipelineOps.packSequences): doc_pack_greedy's production form —
    // real pipelines budget sequences in tokenizer tokens, not words.
    // The twin re-derives per-doc BPE counts through the unrolled
    // training CTEs and replays the identical pack window, so the
    // merge table, count arithmetic, and bin assignment all agree.
    QueryDef("doc_pack_greedy_bpe",
      bpeTrainCtes(BpeMerges) +
        s"""ns AS (SELECT w, CAST((length(sym) -
           |    length(replace(sym, ')(', ''))) / 2 + 1 AS BIGINT) AS n
           |  FROM w$BpeMerges),
           |d AS (SELECT t.doc_id, CAST(sum(ns.n) AS BIGINT) AS n_tokens
           |  FROM toks t JOIN ns ON ns.w = t.w GROUP BY t.doc_id),
           |t2 AS (SELECT doc.doc_id, doc.source,
           |  coalesce(d.n_tokens, 0) AS n_tokens
           |  FROM documents doc LEFT JOIN d USING (doc_id))
           |SELECT doc_id, source, n_tokens,
           |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
           |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    1 PRECEDING), 0) AS BIGINT) AS cum_before,
           |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
           |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    1 PRECEDING), 0) // 512 AS BIGINT) AS pack_id
           |FROM t2 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docsDf = load(s, d, "documents")
      val stats = graft.ops.Bpe.tokenStats(docsDf, col("doc_id"),
          col("text"), bpeMergesFor(s, d))
        .select(col("id").as("doc_id"), col("n_bpe_tokens").as("n_tokens"))
      val t = docsDf.select(col("doc_id"), col("source"))
        .join(stats, Seq("doc_id"))
      graft.ops.PipelineOps.packSequences(t, col("source"), col("doc_id"),
          col("n_tokens"), budget = 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_before"), col("pack_id").cast("long").as("pack_id"))
        .orderBy("doc_id")
    },

    // exact CONTAINMENT pairs (Dedup.containmentPairs): the
    // near-superset detector Jaccard misses — |A∩B|/min(|A|,|B|)
    // over rare-shingle candidates, verified with the sorted-merge
    // intersect. The twin replays candidate generation AND the exact
    // verify, so the df cap, min-shared gate, and the integer-ratio
    // containment all have to agree.
    QueryDef("doc_containment_pairs",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |g AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |    list_distinct(list_transform(range(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
         |    sp -> ${sqlPhash("sp")}))) AS hs FROM t),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM g),
         |rare AS (SELECT h FROM e GROUP BY h HAVING count(*) <= $SpanDfCap),
         |f AS (SELECT doc_id, h FROM e WHERE h IN (SELECT h FROM rare)),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $SpanMinShared),
         |v AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE) /
         |    CAST(least(len(ga.hs), len(gb.hs)) AS DOUBLE) AS containment
         |  FROM cand JOIN g ga ON ga.doc_id = id_a
         |    JOIN g gb ON gb.doc_id = id_b)
         |SELECT id_a, id_b, containment FROM v
         |WHERE containment >= $ContainThreshold
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val sets = load(s, d, "documents")
        .select(col("doc_id"),
          Dedup.shingleHashes(tokens(col("text")), 3).as("hs"))
        .persist()
      Dedup.containmentPairs(sets, "doc_id", "hs",
          dfCap = SpanDfCap, minShared = SpanMinShared,
          threshold = ContainThreshold)
        .orderBy("id_a", "id_b")
    },

    // bigram surprisal (TextOps.bigramSurprisal): the chain-rule
    // refinement of doc_unigram_surprisal — first token priced by the
    // unigram distribution, every transition by the prefix-normalized
    // bigram conditional; catches scrambled word ORDER, not just rare
    // words. Costs quantized once per distinct gram (micro-nats), so
    // document totals are exact integer sums on both engines.
    QueryDef("doc_bigram_surprisal",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |uni AS (SELECT tok, count(*) AS cnt FROM u GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM uni),
         |pu AS (SELECT tok,
         |  CAST(round(-ln(CAST(cnt AS DOUBLE) / total) * 1000000)
         |    AS BIGINT) AS c FROM uni, tot),
         |b2 AS (SELECT doc_id, unnest(w[1 : len(w) - 1]) AS prev,
         |  unnest(w[2 : len(w)]) AS tok FROM t WHERE len(w) >= 2),
         |big AS (SELECT prev, tok, count(*) AS bcnt FROM b2 GROUP BY 1, 2),
         |pref AS (SELECT prev, sum(bcnt) AS pcnt FROM big GROUP BY prev),
         |pb AS (SELECT big.prev, big.tok,
         |  CAST(round(-ln(CAST(bcnt AS DOUBLE) / CAST(pcnt AS DOUBLE))
         |    * 1000000) AS BIGINT) AS c FROM big JOIN pref USING (prev)),
         |fc AS (SELECT t.doc_id, pu.c FROM t JOIN pu ON pu.tok = t.w[1]
         |  WHERE len(t.w) > 0),
         |bc AS (SELECT b2.doc_id, pb.c FROM b2 JOIN pb USING (prev, tok)),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS cost_e6
         |  FROM (SELECT * FROM fc UNION ALL SELECT * FROM bc)
         |  GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_toks,
         |  coalesce(d.cost_e6, 0) AS cost_e6,
         |  CASE WHEN len(t.w) > 0 THEN
         |    CAST(coalesce(d.cost_e6, 0) AS DOUBLE) /
         |      CAST(len(t.w) AS DOUBLE) ELSE 0.0 END AS mean_cost_e6
         |FROM t LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.bigramSurprisal(load(s, d, "documents"),
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_toks"), col("cost_e6"),
          col("mean_cost_e6"))
        .orderBy("doc_id")
    },

    // BM25 top-k retrieval (TextOps.bm25TopK): the keyword-retrieval
    // primitive behind targeted decontamination sweeps and corpus
    // audits. idf quantized e6 per query term, saturation in pure
    // rational IEEE arithmetic, doc scores exact integer sums; the
    // query-term filter lands BEFORE any shuffle and top-k is
    // TakeOrdered, never a global sort.
    QueryDef("doc_bm25_topk",
      s"""WITH $sqlBm25SrCtes
         |SELECT doc_id, n_hit, score_e6,
         |  CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id)
         |    AS BIGINT) AS rank
         |FROM sr ORDER BY rank LIMIT $Bm25TopK""".stripMargin) { (s, d) =>
      TextOps.bm25TopK(load(s, d, "documents"), col("doc_id"), col("text"),
        Bm25Terms, k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
        .orderBy("rank")
    },

    // BM25 retrieval sweep (TextOps.bm25TopKPerQuery): top-k per
    // query over a query TABLE in one corpus pass — the posting list
    // over the union of query terms materializes once, df/idf stay
    // query-independent, the per-query fan-out is a broadcast join,
    // and per-query top-k rides graft_topk's partial combine (n_hit
    // packed into the comparison id's low bits, so no second corpus
    // pass re-derives it). Query 3 pairs a dead term with a live one;
    // query 4 is entirely dead and must yield no rows.
    QueryDef("doc_bm25_multi",
      s"""WITH $sqlBm25MultiSrCtes
         |SELECT query_id, doc_id, n_hit, score_e6, rank FROM (
         |  SELECT query_id, doc_id, n_hit, score_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM sr)
         |WHERE rank <= $Bm25TopK
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val q = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
      TextOps.bm25TopKPerQuery(load(s, d, "documents"), col("doc_id"),
        col("text"), q, k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
        .orderBy("query_id", "rank")
    },

    // per-query retrieval grading (Eval.ndcgAtKBy over
    // TextOps.bm25ScoresPerQuery): one nDCG@10 verdict row per sweep
    // query, with zero driver work — both position assignments are
    // windows PARTITIONED BY query_id, discounts quantize once per
    // position. The fully-dead query (no candidates) yields no row,
    // matching the grader's input domain.
    QueryDef("doc_bm25_multi_ndcg",
      s"""WITH $sqlBm25MultiSrCtes,
         |tk AS (SELECT query_id, n_hit, row_number() OVER
         |  (PARTITION BY query_id ORDER BY score_e6 DESC, doc_id)
         |  AS ps, row_number() OVER
         |  (PARTITION BY query_id ORDER BY n_hit DESC, doc_id)
         |  AS pr FROM sr),
         |gr AS (SELECT query_id,
         |  CAST(count(*) AS BIGINT) AS n_cand,
         |  CAST(coalesce(sum(CASE WHEN ps <= $NdcgK THEN
         |    n_hit * CAST(round(1000000000.0 / (ln(ps + 1.0) / ln(2.0)))
         |    AS BIGINT) END), 0) AS BIGINT) AS dcg_e9,
         |  CAST(coalesce(sum(CASE WHEN pr <= $NdcgK THEN
         |    n_hit * CAST(round(1000000000.0 / (ln(pr + 1.0) / ln(2.0)))
         |    AS BIGINT) END), 0) AS BIGINT) AS idcg_e9
         |  FROM tk GROUP BY 1)
         |SELECT query_id AS "group", n_cand,
         |  CAST($NdcgK AS BIGINT) AS k, dcg_e9, idcg_e9,
         |  CASE WHEN idcg_e9 > 0 THEN
         |    CAST(CAST(dcg_e9 AS HUGEINT) * 1000000 // idcg_e9 AS BIGINT)
         |  END AS ndcg_e6
         |FROM gr ORDER BY 1""".stripMargin) { (s, d) =>
      val q = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
      graft.ops.Eval.ndcgAtKBy(
        TextOps.bm25ScoresPerQuery(load(s, d, "documents"),
          col("doc_id"), col("text"), q, k1 = Bm25K1, b = Bm25B),
        col("query_id"), col("doc_id"), col("n_hit"), col("score_e6"),
        NdcgK)
        .orderBy("group")
    },

    // per-query rank fusion (Retrieval.rrfFuseBy): the sweep's score
    // ranking fuses with a coverage re-ranking (hit count) of the
    // SAME per-query top-k pool — one fused consensus list per query
    // with zero driver work: fused scores aggregate on
    // (query_id, doc_id) and the per-query top-k rides graft_topk's
    // partial combine, n_lists packed into the comparison id's low
    // bits. Only ranks cross the two lists.
    QueryDef("doc_hybrid_rrf_multi",
      s"""WITH $sqlBm25MultiSrCtes,
         |ra AS (SELECT query_id, doc_id, n_hit,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM sr),
         |ta AS (SELECT query_id, doc_id, n_hit, rank FROM ra
         |  WHERE rank <= $Bm25TopK),
         |tb AS (SELECT query_id, doc_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY n_hit DESC, doc_id) AS BIGINT) AS rank FROM ta),
         |u AS (SELECT query_id, doc_id, rank FROM ta
         |  UNION ALL SELECT query_id, doc_id, rank FROM tb),
         |f AS (SELECT query_id, doc_id,
         |  CAST(count(*) AS BIGINT) AS n_lists,
         |  CAST(sum(CAST(round(1000000000.0 / ($RrfK0M + rank))
         |    AS BIGINT)) AS BIGINT) AS rrf_e9
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, n_lists, rrf_e9, rank FROM (
         |  SELECT query_id, doc_id, n_lists, rrf_e9,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS rank
         |  FROM f)
         |WHERE rank <= $Bm25TopK
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val q = s.createDataFrame(Bm25Queries).toDF("query_id", "term")
      val a = TextOps.bm25TopKPerQuery(load(s, d, "documents"),
        col("doc_id"), col("text"), q, k1 = Bm25K1, b = Bm25B,
        topK = Bm25TopK)
      val wb = Window.partitionBy("query_id")
        .orderBy(col("n_hit").desc, col("doc_id"))
      val b = a.select(col("query_id"), col("doc_id"),
        row_number().over(wb).cast("long").as("rank"))
      graft.ops.Retrieval.rrfFuseBy(
          Seq(a.select(col("query_id"), col("doc_id"), col("rank")), b),
          col("query_id"), col("doc_id"), col("rank"),
          RrfK0M, Bm25TopK)
        .select(col("group").as("query_id"), col("id").as("doc_id"),
          col("n_lists"), col("rrf_e9"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // heavy hitters (Sketch.heavyHittersExact): the exact top-20
    // tokens by frequency via the Misra-Gries two-pass — one scan
    // reduces to <=512 candidate counters per task (the shuffle never
    // carries the key domain), a second scan counts only the
    // candidates, and the result is provably exact or fails loudly.
    // The twin states the definition it is provably equal to.
    QueryDef("doc_heavy_tokens",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
         |tok AS (SELECT unnest(w) AS key FROM t),
         |c AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1)
         |SELECT key, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
         |    AS rk
         |FROM c ORDER BY rk LIMIT 20""".stripMargin) { (s, d) =>
      graft.ops.Sketch.heavyHittersExact(
        load(s, d, "documents")
          .select(explode(tokens(col("text"))).as("tok")),
        col("tok"), k = 20, capacity = 512)
        .orderBy("rk")
    },

    // per-source heavy hitters (Sketch.heavyHittersExactBy): each
    // crawl source's exact top-5 tokens — the per-host hot-key census
    // (boilerplate and skew diagnosis BY origin) with the same
    // provable-or-loud Misra-Gries two-pass applied per group.
    QueryDef("doc_heavy_by_source",
      s"""WITH t AS (SELECT source AS grp, $sqlToks AS w FROM documents),
         |tok AS (SELECT grp, unnest(w) AS key FROM t),
         |c AS (SELECT grp, key, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |r AS (SELECT grp, key, cnt,
         |  CAST(row_number() OVER (PARTITION BY grp
         |    ORDER BY cnt DESC, key) AS BIGINT) AS rk FROM c)
         |SELECT grp, key, cnt, rk FROM r WHERE rk <= 5
         |ORDER BY grp, rk""".stripMargin) { (s, d) =>
      graft.ops.Sketch.heavyHittersExactBy(
        load(s, d, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("tok")),
        col("source"), col("tok"), k = 5, capacity = 256)
        .orderBy("grp", "rk")
    },

    // the heavy-hitter census as a CONTINUOUS stream
    // (StreamOps.mgHeavyStream e2e): the corpus token stream arrives
    // in three file-source batches, each micro-batch folds into
    // standing per-bucket Misra-Gries state (state-store-backed, ≤
    // buckets·cap counters total), and the final snapshot
    // exact-confirms to the provably correct top-k — the same answer
    // the batch two-pass gives, computed AT INGEST. The twin states
    // the exact definition the stream is provably equal to.
    QueryDef("doc_heavy_stream_e2e",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
         |tok AS (SELECT unnest(w) AS key FROM t),
         |c AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1)
         |SELECT key, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
         |    AS rk
         |FROM c ORDER BY rk LIMIT $HeavyStreamK""".stripMargin) { (s, d) =>
      val root = heavyStreamStateDir(s, d)
      s.read.parquet(s"$root/result").orderBy("rk")
    },

    // retrieval grading (Eval.ndcgAtK over TextOps.bm25Scores): how
    // close is BM25's top-10 to the best ranking its candidate pool
    // allows, with the hit count as graded relevance? Position
    // discounts quantize once per position (the same ln-ratio
    // expression on both engines), DCG/IDCG are exact integer dot
    // products, both top-k's are TakeOrdered — one verdict row.
    QueryDef("doc_bm25_ndcg",
      s"""WITH $sqlBm25SrCtes,
         |tk AS (SELECT n_hit, row_number() OVER
         |  (ORDER BY score_e6 DESC, doc_id) AS pos FROM sr),
         |il AS (SELECT n_hit, row_number() OVER
         |  (ORDER BY n_hit DESC, doc_id) AS pos FROM sr),
         |wd AS (SELECT CAST(sum(n_hit * CAST(round(1000000000.0 /
         |    (ln(pos + 1.0) / ln(2.0))) AS BIGINT)) AS BIGINT) AS dcg_e9
         |  FROM tk WHERE pos <= $NdcgK),
         |wi AS (SELECT CAST(sum(n_hit * CAST(round(1000000000.0 /
         |    (ln(pos + 1.0) / ln(2.0))) AS BIGINT)) AS BIGINT) AS idcg_e9
         |  FROM il WHERE pos <= $NdcgK)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM sr) AS n_cand,
         |  CAST($NdcgK AS BIGINT) AS k,
         |  coalesce(dcg_e9, 0) AS dcg_e9,
         |  coalesce(idcg_e9, 0) AS idcg_e9,
         |  CASE WHEN coalesce(idcg_e9, 0) > 0 THEN
         |    CAST(CAST(dcg_e9 AS HUGEINT) * 1000000 // idcg_e9 AS BIGINT)
         |  END AS ndcg_e6
         |FROM wd, wi""".stripMargin) { (s, d) =>
      graft.ops.Eval.ndcgAtK(
        TextOps.bm25Scores(load(s, d, "documents"), col("doc_id"),
          col("text"), Bm25Terms, k1 = Bm25K1, b = Bm25B),
        col("doc_id"), col("n_hit"), col("score_e6"), NdcgK)
    },

    // DSIR importance selection (Xie et al. 2023; TextOps.dsirWeights
    // + PipelineOps.topFractionByWeight): hashed unigram+bigram
    // features priced by the target-vs-raw log-likelihood ratio —
    // the priced table is O(buckets), vocabulary-independent — then
    // the exact top-1/4 by weight flagged WITHOUT a global sort
    // (histogram-descent threshold; the twin states the selection as
    // the row_number definition it is provably equal to).
    QueryDef("doc_dsir_select",
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt, $sqlToks AS w
         |  FROM documents),
         |g AS (SELECT doc_id, tgt, unnest(list_concat(w,
         |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])))
         |  AS gram FROM t),
         |hb AS (SELECT doc_id, tgt,
         |  ${sqlPhash("gram")} % $DsirBuckets AS bucket FROM g),
         |c AS (SELECT bucket,
         |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |  count(*) AS cr FROM hb GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |  CAST(sum(cr) AS BIGINT) AS tr FROM c),
         |p AS (SELECT bucket, CAST(round(
         |    (ln((ct + 1.0) / CAST(tt + $DsirBuckets AS DOUBLE)) -
         |     ln((cr + 1.0) / CAST(tr + $DsirBuckets AS DOUBLE)))
         |    * 1000000) AS BIGINT) AS llr_e6 FROM c, tot),
         |s AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(p.llr_e6) AS BIGINT) AS weight_e6
         |  FROM hb JOIN p USING (bucket) GROUP BY 1),
         |a AS (SELECT t.doc_id, coalesce(s.n_grams, 0) AS n_grams,
         |  coalesce(s.weight_e6, 0) AS weight_e6
         |  FROM t LEFT JOIN s USING (doc_id)),
         |k AS (SELECT count(*) * $DsirNum // $DsirDen AS k FROM documents)
         |SELECT doc_id, n_grams, weight_e6,
         |  row_number() OVER (ORDER BY weight_e6 DESC, doc_id) <= k.k
         |    AS selected
         |FROM a, k ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PipelineOps.topFractionByWeight(
        TextOps.dsirWeights(load(s, d, "documents"), col("doc_id"),
          col("text"), col("lang") === "en", DsirBuckets),
        "doc_id", "weight_e6", DsirNum, DsirDen)
        .orderBy("doc_id")
    },

    // ROC-AUC of the NB scorer against its own training label
    // (Eval.binaryAuc): train-set separability, the first readout of
    // a quality-gate model. Exact tie-aware Mann-Whitney in pure
    // integers; the Spark side finds the rank prefix sums two-level
    // (≤4096 coarse bins on the driver + per-bin parallel windows),
    // never sorting the corpus — the twin states the same sum with a
    // plain window over distinct scores.
    QueryDef("doc_nb_auc",
      s"""WITH $sqlNbScoreCtes,
         |g AS (SELECT score_e6 AS sv,
         |  sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
         |  sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS nn
         |  FROM sc GROUP BY 1),
         |cw AS (SELECT sv, np, nn, coalesce(sum(nn) OVER (ORDER BY sv
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS cumneg FROM g),
         |tt AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg FROM g)
         |SELECT tt.n_pos, tt.n_neg,
         |  CAST(sum(np * (2 * cumneg + nn)) AS BIGINT) AS auc_num,
         |  CAST(sum(np * (2 * cumneg + nn)) AS DOUBLE) /
         |    (2.0 * tt.n_pos * tt.n_neg) AS auc
         |FROM cw, tt GROUP BY tt.n_pos, tt.n_neg""".stripMargin) { (s, d) =>
      graft.ops.Eval.binaryAuc(nbScored(s, d), col("score_e6"), col("pos"))
    },

    // Equal-width calibration table for the same scorer
    // (Eval.calibrationBins): 10 score bands, each with its observed
    // positive rate. Equal-width (not ntile) is deliberate — band
    // membership is pure arithmetic on the score, so the pass is one
    // scan + one O(bins) aggregation with no global ranking, and each
    // band reads directly as a score threshold.
    QueryDef("doc_nb_calibration",
      s"""WITH $sqlNbScoreCtes,
         |mm AS (SELECT min(score_e6) AS lo, max(score_e6) AS hi FROM sc),
         |bw AS (SELECT lo, greatest(1, (hi - lo) // 10 + 1) AS binw
         |  FROM mm),
         |bb AS (SELECT least((score_e6 - lo) // binw, 9) AS bin,
         |  count(*) AS n, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
         |  FROM sc, bw GROUP BY 1),
         |sk AS (SELECT unnest(range(0, 10)) AS bin)
         |SELECT sk.bin, bw.lo + sk.bin * bw.binw AS score_lo,
         |  CAST(coalesce(bb.n, 0) AS BIGINT) AS n,
         |  CAST(coalesce(bb.n_pos, 0) AS BIGINT) AS n_pos,
         |  CASE WHEN coalesce(bb.n, 0) > 0
         |    THEN CAST(bb.n_pos AS DOUBLE) / CAST(bb.n AS DOUBLE)
         |    ELSE 0.0 END AS pos_rate
         |FROM sk LEFT JOIN bb USING (bin), bw
         |ORDER BY sk.bin""".stripMargin) { (s, d) =>
      graft.ops.Eval.calibrationBins(nbScored(s, d), col("score_e6"),
        col("pos"), nBins = 10)
        .orderBy("bin")
    },

    // per-slice calibration (Eval.calibrationBinsBy): one calibration
    // table per crawl source with GLOBAL band geometry, so bin i
    // means the same score band on every slice — the readout that
    // catches a gate model calibrated overall but mis-calibrated on
    // one source. The all-bands skeleton is an exploded literal bin
    // array against the distinct sources (no nested-loop join,
    // nothing group-count-dependent on the driver); empty bands
    // zero-fill.
    QueryDef("doc_nb_calibration_by_source",
      s"""WITH $sqlNbScoreCtes,
         |j AS (SELECT sc.pos, sc.score_e6, d.source AS grp
         |  FROM sc JOIN documents d USING (doc_id)),
         |mm AS (SELECT min(score_e6) AS lo, max(score_e6) AS hi FROM j),
         |bw AS (SELECT lo, greatest(1, (hi - lo) // 10 + 1) AS binw
         |  FROM mm),
         |bb AS (SELECT grp, least((score_e6 - lo) // binw, 9) AS bin,
         |  count(*) AS n, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
         |  FROM j, bw GROUP BY 1, 2),
         |gs AS (SELECT DISTINCT grp FROM j),
         |sk AS (SELECT grp, unnest(range(0, 10)) AS bin FROM gs)
         |SELECT sk.grp, CAST(sk.bin AS BIGINT) AS bin,
         |  bw.lo + sk.bin * bw.binw AS score_lo,
         |  CAST(coalesce(bb.n, 0) AS BIGINT) AS n,
         |  CAST(coalesce(bb.n_pos, 0) AS BIGINT) AS n_pos,
         |  CASE WHEN coalesce(bb.n, 0) > 0
         |    THEN CAST(bb.n_pos AS DOUBLE) / CAST(bb.n AS DOUBLE)
         |    ELSE 0.0 END AS pos_rate
         |FROM sk LEFT JOIN bb USING (grp, bin), bw
         |ORDER BY sk.grp, sk.bin""".stripMargin) { (s, d) =>
      graft.ops.Eval.calibrationBinsBy(
          nbScored(s, d).join(
            load(s, d, "documents").select(col("doc_id"), col("source")),
            "doc_id"),
          col("source"), col("score_e6"), col("pos"), nBins = 10)
        .orderBy("grp", "bin")
    },

    // per-slice AUC (Eval.binaryAucBy): the same Mann-Whitney
    // machinery partitioned by source — the readout that catches a
    // score separating globally but failing on one slice. Strictly
    // more parallel than the global form: the coarse-bin offsets
    // become per-group windows, so NOTHING touches the driver;
    // single-class groups report NULL auc.
    QueryDef("doc_nb_auc_by_source",
      s"""WITH $sqlNbScoreCtes,
         |ag AS (SELECT d.source AS grp, sc.score_e6 AS sv,
         |  sum(CASE WHEN sc.pos THEN 1 ELSE 0 END) AS np,
         |  sum(CASE WHEN NOT sc.pos THEN 1 ELSE 0 END) AS nn
         |  FROM sc JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |cw AS (SELECT grp, np, nn, coalesce(sum(nn) OVER (
         |  PARTITION BY grp ORDER BY sv
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS cumneg FROM ag)
         |SELECT grp AS source, CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  CAST(sum(np * (2 * cumneg + nn)) AS BIGINT) AS auc_num,
         |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
         |    CAST(sum(np * (2 * cumneg + nn)) AS DOUBLE) /
         |      (2.0 * sum(np) * sum(nn)) ELSE NULL END AS auc
         |FROM cw GROUP BY grp ORDER BY source""".stripMargin) { (s, d) =>
      graft.ops.Eval.binaryAucBy(
        nbScored(s, d).join(
          load(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id"),
        col("source"), col("score_e6"), col("pos"))
        .select(col("grp").as("source"), col("n_pos"), col("n_neg"),
          col("auc_num"), col("auc"))
        .orderBy("source")
    },

    // operating-point sweep (Eval.thresholdSweep): precision / recall
    // / F1 of `score >= t` at 10 equal-width thresholds — the table
    // that PICKS the gate threshold. One scan builds the band
    // aggregate; confusion counts are suffix sums over the O(bins)
    // band table; each metric is one IEEE division of exact integer
    // counts.
    QueryDef("doc_nb_threshold_sweep",
      s"""WITH $sqlNbScoreCtes,
         |mm AS (SELECT min(score_e6) AS lo, max(score_e6) AS hi,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
         |  FROM sc),
         |bw AS (SELECT lo, n, p,
         |  greatest(1, (hi - lo) // $SweepBins + 1) AS binw FROM mm),
         |bb AS (SELECT least((score_e6 - lo) // binw,
         |    ${SweepBins - 1}) AS bin,
         |  CAST(count(*) AS BIGINT) AS bn,
         |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS bp
         |  FROM sc, bw GROUP BY 1),
         |sk AS (SELECT unnest(range(0, $SweepBins)) AS bin),
         |f AS (SELECT sk.bin, coalesce(bb.bn, 0) AS bn,
         |  coalesce(bb.bp, 0) AS bp FROM sk LEFT JOIN bb USING (bin)),
         |suf AS (SELECT bin, sum(bn) OVER (ORDER BY bin DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS npp,
         |  sum(bp) OVER (ORDER BY bin DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
         |  FROM f)
         |SELECT suf.bin, bw.lo + suf.bin * bw.binw AS threshold,
         |  CAST(npp AS BIGINT) AS n_pred_pos, CAST(tp AS BIGINT) AS tp,
         |  CAST(npp - tp AS BIGINT) AS fp,
         |  CAST(bw.p - tp AS BIGINT) AS fn,
         |  CAST((bw.n - bw.p) - (npp - tp) AS BIGINT) AS tn,
         |  CASE WHEN npp > 0 THEN CAST(tp AS DOUBLE) / CAST(npp AS DOUBLE)
         |    ELSE 0.0 END AS "precision",
         |  CAST(tp AS DOUBLE) / CAST(bw.p AS DOUBLE) AS recall,
         |  2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) +
         |    CAST(npp - tp AS DOUBLE) + CAST(bw.p - tp AS DOUBLE)) AS f1
         |FROM suf, bw ORDER BY bin""".stripMargin) { (s, d) =>
      graft.ops.Eval.thresholdSweep(nbScored(s, d), col("score_e6"),
        col("pos"), SweepBins)
        .orderBy("bin")
    },

    // token-distribution drift between crawl generations
    // (Drift.tokenBucketDrift): per-bucket PSI + KL of the src10–19
    // candidate slice against the src0–9 reference over 256 hashed
    // buckets — O(buckets) priced table off one token scan, the
    // "does the new crawl look like the corpus" monitor.
    QueryDef("doc_drift_psi",
      s"""WITH $sqlDriftCtes
         |SELECT bucket, c_ref, c_cand, psi_e9, kl_e9 FROM drift
         |ORDER BY bucket""".stripMargin) { (s, d) =>
      graft.ops.Drift.tokenBucketDrift(load(s, d, "documents"),
        col("text"), expr("cast(substring(source, 4) as bigint) < 10"),
        DriftBuckets)
        .orderBy("bucket")
    },

    // the one-row drift verdict (Drift.driftSummary): exact integer
    // totals of the quantized per-bucket contributions plus the
    // hot-bucket count that routes an operator to the table above.
    QueryDef("doc_drift_summary",
      s"""WITH $sqlDriftCtes
         |SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
         |  CAST(sum(c_cand) AS BIGINT) AS n_cand,
         |  CAST(sum(psi_e9) AS BIGINT) AS psi_e9,
         |  CAST(sum(kl_e9) AS BIGINT) AS kl_e9,
         |  CAST(sum(CASE WHEN psi_e9 > $DriftHotPsiE9 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hot_buckets
         |FROM drift""".stripMargin) { (s, d) =>
      graft.ops.Drift.driftSummary(
        graft.ops.Drift.tokenBucketDrift(load(s, d, "documents"),
          col("text"), expr("cast(substring(source, 4) as bigint) < 10"),
          DriftBuckets),
        DriftHotPsiE9)
    },

    // Cohen's kappa (Eval.cohenKappa) between the NB scorer's
    // prediction (score > 0) and the truth label — the
    // chance-corrected agreement that says whether the cheap labeler
    // can stand in for the expensive one. One scan, a 4-cell
    // confusion aggregate, exact integer marginal products, three
    // IEEE ops.
    QueryDef("doc_nb_kappa",
      s"""WITH $sqlNbScoreCtes,
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN NOT (score_e6 > 0) AND NOT pos
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         |  CAST(sum(CASE WHEN NOT (score_e6 > 0) AND pos
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |  CAST(sum(CASE WHEN score_e6 > 0 AND NOT pos
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(sum(CASE WHEN score_e6 > 0 AND pos
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n11
         |  FROM sc)
         |SELECT n, n00, n01, n10, n11,
         |  CAST(n00 + n11 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |  CAST((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10)
         |    AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
         |  CASE WHEN CAST((n10 + n11) * (n01 + n11) + (n00 + n01) *
         |      (n00 + n10) AS DOUBLE) / CAST(n * n AS DOUBLE) < 1.0
         |    THEN (CAST(n00 + n11 AS DOUBLE) / CAST(n AS DOUBLE) -
         |      CAST((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10)
         |        AS DOUBLE) / CAST(n * n AS DOUBLE)) /
         |      (1.0 - CAST((n10 + n11) * (n01 + n11) + (n00 + n01) *
         |        (n00 + n10) AS DOUBLE) / CAST(n * n AS DOUBLE))
         |  END AS kappa
         |FROM ag""".stripMargin) { (s, d) =>
      graft.ops.Eval.cohenKappa(nbScored(s, d),
        col("score_e6") > 0L, col("pos"))
    },

    // the drift monitor end-to-end (streaming/DriftMonitor): pin the
    // src0-9 reference distribution, then feed the src10-19 candidate
    // slice as two micro-batches — each gets one verdict row (total
    // PSI/KL, hot-bucket count, the hot bucket ids comma-joined). The
    // monitor prices buckets through the SAME Drift.priceBuckets step
    // as the batch operator, and this twin re-states both batches'
    // arithmetic end to end, so batch and stream cannot drift.
    QueryDef("doc_drift_gate_e2e",
      s"""WITH mt AS (SELECT doc_id % 2 AS par, $sqlToks AS w
         |  FROM documents WHERE CAST(substr(source, 4) AS BIGINT) >= 10),
         |mtk AS (SELECT par, unnest(w) AS tok FROM mt),
         |mhb AS (SELECT par, ${sqlPhash("tok")} % $DriftBuckets AS bucket
         |  FROM mtk),
         |rt AS (SELECT $sqlToks AS w FROM documents
         |  WHERE CAST(substr(source, 4) AS BIGINT) < 10),
         |rtk AS (SELECT unnest(w) AS tok FROM rt),
         |rhb AS (SELECT ${sqlPhash("tok")} % $DriftBuckets AS bucket
         |  FROM rtk),
         |rc AS (SELECT bucket, count(*) AS c_ref FROM rhb GROUP BY 1),
         |rtot AS (SELECT CAST(count(*) AS BIGINT) AS tr FROM rhb),
         |dsk AS (SELECT unnest(range(0, $DriftBuckets)) AS bucket),
         |${sqlGateBatchCtes(0, DriftBuckets, DriftHotPsiE9)},
         |${sqlGateBatchCtes(1, DriftBuckets, DriftHotPsiE9)}
         |SELECT batch, n_cand, psi_e9, kl_e9, n_hot_buckets, hot_buckets
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
         |ORDER BY batch""".stripMargin) { (s, d) =>
      val dir = driftGateStateDir(s, d)
      new graft.streaming.DriftMonitor(s, dir, DriftBuckets,
          DriftHotPsiE9)
        .readVerdicts(1L)
        .orderBy("batch")
    },

    // numeric-score drift (Drift.scoreDrift): PSI/KL between the two
    // crawl generations' NB-score distributions over 16 equal-width
    // bands — "did the gate model's score move on the new crawl?",
    // the companion monitor to token-space drift. Arithmetic binning
    // (no ranking), the same priceBuckets quantization, one scan +
    // one O(bins) aggregate.
    QueryDef("doc_score_drift",
      s"""WITH $sqlNbScoreCtes,
         |j AS (SELECT sc.score_e6 AS s,
         |  CAST(substr(d.source, 4) AS BIGINT) < 10 AS r
         |  FROM sc JOIN documents d USING (doc_id)),
         |mm AS (SELECT min(s) AS lo, max(s) AS hi,
         |  CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS tr,
         |  CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT) AS tc
         |  FROM j),
         |bw AS (SELECT lo, tr, tc,
         |  greatest(1, (hi - lo) // $ScoreDriftBins + 1) AS binw FROM mm),
         |bb AS (SELECT least((s - lo) // binw,
         |    ${ScoreDriftBins - 1}) AS bucket,
         |  sum(CASE WHEN r THEN 1 ELSE 0 END) AS c_ref,
         |  sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS c_cand
         |  FROM j, bw GROUP BY 1),
         |sk AS (SELECT unnest(range(0, $ScoreDriftBins)) AS bucket),
         |f AS (SELECT sk.bucket, coalesce(bb.c_ref, 0) AS c_ref,
         |  coalesce(bb.c_cand, 0) AS c_cand
         |  FROM sk LEFT JOIN bb USING (bucket))
         |SELECT bucket, CAST(bw.lo + bucket * bw.binw AS BIGINT)
         |    AS score_lo,
         |  CAST(c_ref AS BIGINT) AS c_ref, CAST(c_cand AS BIGINT) AS c_cand,
         |  CAST(round(((c_cand + 1.0) /
         |      CAST(tc + $ScoreDriftBins AS DOUBLE) -
         |      (c_ref + 1.0) / CAST(tr + $ScoreDriftBins AS DOUBLE)) *
         |    ln(((c_cand + 1.0) / CAST(tc + $ScoreDriftBins AS DOUBLE)) /
         |       ((c_ref + 1.0) / CAST(tr + $ScoreDriftBins AS DOUBLE))) *
         |    1000000000) AS BIGINT) AS psi_e9,
         |  CAST(round((c_cand + 1.0) /
         |      CAST(tc + $ScoreDriftBins AS DOUBLE) *
         |    ln(((c_cand + 1.0) / CAST(tc + $ScoreDriftBins AS DOUBLE)) /
         |       ((c_ref + 1.0) / CAST(tr + $ScoreDriftBins AS DOUBLE))) *
         |    1000000000) AS BIGINT) AS kl_e9
         |FROM f, bw ORDER BY bucket""".stripMargin) { (s, d) =>
      graft.ops.Drift.scoreDrift(
        nbScored(s, d).join(
          load(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id"),
        col("score_e6"), expr("cast(substring(source, 4) as bigint) < 10"),
        ScoreDriftBins)
    },

    // streaming drift gate, SCORE modality (DriftMonitor.
    // setScoreReference/applyScoreBatch): the reference crawl
    // generation's NB-score distribution pins the band geometry
    // (lo, binw persisted WITH the reference — a batch never
    // re-derives bins from itself), then each incoming half of the
    // new generation gets one verdict row. Same priceBuckets pricing,
    // same verdict formulation as the token gate — the twin replays
    // both batches through the shared gate CTEs.
    QueryDef("doc_score_drift_gate_e2e",
      s"""WITH $sqlNbScoreCtes,
         |j AS (SELECT sc.doc_id, sc.score_e6 AS s,
         |  CAST(substr(d.source, 4) AS BIGINT) < 10 AS r
         |  FROM sc JOIN documents d USING (doc_id)),
         |bw AS (SELECT min(s) AS lo,
         |  greatest(1, (max(s) - min(s)) // $ScoreDriftBins + 1) AS binw,
         |  CAST(count(*) AS BIGINT) AS tr FROM j WHERE r),
         |rc AS (SELECT least(greatest((s - lo) // binw, 0),
         |    ${ScoreDriftBins - 1}) AS bucket, count(*) AS c_ref
         |  FROM j, bw WHERE r GROUP BY 1),
         |rtot AS (SELECT tr FROM bw),
         |dsk AS (SELECT unnest(range(0, $ScoreDriftBins)) AS bucket),
         |mhb AS (SELECT doc_id % 2 AS par,
         |  least(greatest((s - lo) // binw, 0),
         |    ${ScoreDriftBins - 1}) AS bucket
         |  FROM j, bw WHERE NOT r),
         |${sqlGateBatchCtes(0, ScoreDriftBins, DriftHotPsiE9)},
         |${sqlGateBatchCtes(1, ScoreDriftBins, DriftHotPsiE9)}
         |SELECT batch, n_cand, psi_e9, kl_e9, n_hot_buckets, hot_buckets
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
         |ORDER BY batch""".stripMargin) { (s, d) =>
      val dir = scoreGateStateDir(s, d)
      new graft.streaming.DriftMonitor(s, dir, ScoreDriftBins,
          DriftHotPsiE9)
        .readVerdicts(1L)
        .orderBy("batch")
    },

    // HTML text extraction (Html.extract) — stage 0 of a crawl
    // pipeline: each doc's text is wrapped in a synthesized page
    // (style+script elements, a comment, heading/paragraph blocks, a
    // 3-anchor navigation div; every 3rd doc one extra content block)
    // and extraction must recover clean block text, exact character
    // tallies, and the link-density boilerplate flag. The twin
    // replays synthesis AND extraction with the interpolated regex +
    // entity constants — zero-shuffle scan fold on the Spark side.
    QueryDef("doc_html_extract",
      s"""WITH h AS (SELECT doc_id, $sqlHtmlSynth AS html
         |  FROM documents),
         |c AS (SELECT doc_id, ${sqlHtmlClean("html")} AS c1 FROM h),
         |b AS (SELECT doc_id,
         |  list_filter(list_transform(regexp_split_to_array(c1,
         |      '${graft.ops.Html.BlockTagRe}'),
         |    x -> ${sqlHtmlNorm("x")}), x -> length(x) > 0) AS blocks,
         |  list_transform(regexp_extract_all(c1,
         |      '${graft.ops.Html.AnchorRe}', 1),
         |    a -> ${sqlHtmlNorm("a")}) AS anchors
         |  FROM c),
         |t AS (SELECT doc_id,
         |  array_to_string(blocks, chr(10)) AS text_clean,
         |  CAST(len(blocks) AS BIGINT) AS n_blocks,
         |  CAST(coalesce(list_sum(list_transform(blocks,
         |    x -> length(x))), 0) AS BIGINT) AS total_chars,
         |  CAST(coalesce(list_sum(list_transform(anchors,
         |    x -> length(x))), 0) AS BIGINT) AS link_chars
         |  FROM b)
         |SELECT doc_id, text_clean, n_blocks, total_chars, link_chars,
         |  CAST(link_chars * 1000000 // greatest(total_chars, 1)
         |    AS BIGINT) AS link_density_ppm,
         |  link_chars * 1000000 // greatest(total_chars, 1) >
         |    ${graft.ops.Html.DefaultBoilerplatePpm} AS boilerplate
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Html.extract(
          load(s, d, "documents").withColumn("html", htmlPayload),
          col("doc_id"), col("html"))
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "text_clean", "n_blocks", "total_chars",
          "link_chars", "link_density_ppm", "boilerplate")
        .orderBy("doc_id")
    },

    // Block-level extraction (Html.blocks) — boilerpipe's decision
    // unit: one row per non-empty block with ITS OWN link density, so
    // the navigation div flags boilerplate while the paragraph and
    // heading blocks pass. block_idx is the raw split position
    // (stable under the emptiness filter). The explode is a flatMap —
    // still zero shuffles before the output sort.
    QueryDef("doc_html_blocks",
      s"""WITH h AS (SELECT doc_id, $sqlHtmlSynth AS html
         |  FROM documents),
         |c AS (SELECT doc_id, ${sqlHtmlClean("html")} AS c1 FROM h),
         |cs AS (SELECT doc_id, regexp_split_to_array(c1,
         |  '${graft.ops.Html.BlockTagRe}') AS arr FROM c),
         |ix AS (SELECT doc_id, arr, unnest(range(0, len(arr))) AS i
         |  FROM cs),
         |blk AS (SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
         |  arr[i + 1] AS raw FROM ix),
         |nb AS (SELECT doc_id, block_idx,
         |  ${sqlHtmlNorm("raw")} AS block_text,
         |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(
         |      raw, '${graft.ops.Html.AnchorRe}', 1),
         |    a -> length(${sqlHtmlNorm("a")}))), 0) AS BIGINT)
         |    AS link_chars
         |  FROM blk),
         |f AS (SELECT doc_id, block_idx, block_text,
         |  CAST(length(block_text) AS BIGINT) AS n_chars, link_chars
         |  FROM nb WHERE length(block_text) > 0)
         |SELECT doc_id, block_idx, block_text, n_chars, link_chars,
         |  CAST(link_chars * 1000000 // greatest(n_chars, 1)
         |    AS BIGINT) AS link_density_ppm,
         |  link_chars * 1000000 // greatest(n_chars, 1) >
         |    ${graft.ops.Html.DefaultBoilerplatePpm} AS boilerplate
         |FROM f ORDER BY doc_id, block_idx""".stripMargin) { (s, d) =>
      graft.ops.Html.blocks(
          load(s, d, "documents").withColumn("html", htmlPayload),
          col("doc_id"), col("html"))
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "block_idx", "block_text", "n_chars",
          "link_chars", "link_density_ppm", "boilerplate")
        .orderBy("doc_id", "block_idx")
    }) ++ urlQueries ++ sentenceQueries ++ budgetQueries ++
    warcQueries ++ crawlStage0Queries ++ gopherQueries

  /** DuckDB twin of TextOps.gopherFlags over the sentence-structured
    * fixture — every rule exact-integer with the same default
    * constants, ending in CTE `gf` (doc_id, n_words, six flags,
    * reasons, kept). Shared by both gopher queries.
    */
  private lazy val sqlGopherCtes: String = {
    val sws = graft.ops.TextOps.EnStopwords
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""gst AS (SELECT doc_id, $sqlSentSynth AS t FROM documents),
       |gtk AS (SELECT doc_id, t, list_filter(regexp_split_to_array(
       |  lower(t), '[^a-z0-9]+'), x -> x <> '') AS w FROM gst),
       |gm AS (SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(length(t) AS BIGINT) AS chars,
       |  CAST(coalesce(list_sum(list_transform(w,
       |    x -> length(x))), 0) AS BIGINT) AS wlen,
       |  CAST(length(regexp_replace(t, '[a-zA-Z0-9 \\t\\n]', '', 'g'))
       |    AS BIGINT) AS sym,
       |  CAST(len(list_distinct(list_filter(w,
       |    x -> list_contains($sws, x)))) AS BIGINT) AS nsw,
       |  list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i + 1]) AS big,
       |  CAST(len(list_distinct(w)) AS BIGINT) AS dist
       |  FROM gtk),
       |gb AS (SELECT *, CAST(len(big) AS BIGINT) AS b2,
       |  CAST(len(list_distinct(big)) AS BIGINT) AS b2d FROM gm),
       |gfl AS (SELECT doc_id, n_words,
       |  n_words < ${TextOps.GopherMinWords}
       |    OR n_words > ${TextOps.GopherMaxWords} AS f_words,
       |  wlen * 1000 < ${TextOps.GopherMinAvgLenMilli} * n_words
       |    OR wlen * 1000 > ${TextOps.GopherMaxAvgLenMilli} * n_words
       |    AS f_avglen,
       |  sym * 100 > ${TextOps.GopherMaxPunctPct} * chars AS f_punct,
       |  nsw < ${TextOps.GopherMinStopwords} AS f_stop,
       |  b2 >= 1 AND (b2 - b2d) * 100 > ${TextOps.GopherMaxDup2Pct} * b2
       |    AS f_dup2,
       |  dist * 100 < ${TextOps.GopherMinTtrPct} * n_words AS f_ttr
       |  FROM gb),
       |gf AS (SELECT doc_id, n_words, f_words, f_avglen, f_punct,
       |  f_stop, f_dup2, f_ttr,
       |  CAST(CASE WHEN f_words THEN 1 ELSE 0 END
       |    + CASE WHEN f_avglen THEN 2 ELSE 0 END
       |    + CASE WHEN f_punct THEN 4 ELSE 0 END
       |    + CASE WHEN f_stop THEN 8 ELSE 0 END
       |    + CASE WHEN f_dup2 THEN 16 ELSE 0 END
       |    + CASE WHEN f_ttr THEN 32 ELSE 0 END AS BIGINT) AS reasons,
       |  NOT (f_words OR f_avglen OR f_punct OR f_stop OR f_dup2
       |    OR f_ttr) AS kept
       |  FROM gfl)""".stripMargin
  }

  private def gopherFlagsOf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    TextOps.gopherFlags(
      load(s, d, "documents").withColumn("stext", sentPayload),
      col("doc_id"), col("stext"))

  private def gopherQueries: Seq[QueryDef] = Seq(

    // Gopher-rule composite gate (TextOps.gopherFlags): six
    // exact-integer rules over the sentence-structured fixture, each
    // verdict carrying its reason bitmask — the per-document WHY a
    // curation report needs. Zero shuffles before the output sort.
    QueryDef("doc_gopher_gate",
      s"""WITH $sqlGopherCtes
         |SELECT doc_id, n_words, f_words, f_avglen, f_punct, f_stop,
         |  f_dup2, f_ttr, reasons, kept
         |FROM gf ORDER BY doc_id""".stripMargin) { (s, d) =>
      gopherFlagsOf(s, d).withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Per-rule rejection census: how many documents each rule fires
    // on (independently — a doc can fail several), plus the pass
    // count. One map-side-combined aggregation to a 7-row table.
    QueryDef("doc_gopher_stats",
      s"""WITH $sqlGopherCtes
         |SELECT rule, n_docs FROM (
         |  SELECT 'f_words' AS rule, CAST(count(*) FILTER (
         |    WHERE f_words) AS BIGINT) AS n_docs FROM gf
         |  UNION ALL SELECT 'f_avglen', CAST(count(*) FILTER (
         |    WHERE f_avglen) AS BIGINT) FROM gf
         |  UNION ALL SELECT 'f_punct', CAST(count(*) FILTER (
         |    WHERE f_punct) AS BIGINT) FROM gf
         |  UNION ALL SELECT 'f_stop', CAST(count(*) FILTER (
         |    WHERE f_stop) AS BIGINT) FROM gf
         |  UNION ALL SELECT 'f_dup2', CAST(count(*) FILTER (
         |    WHERE f_dup2) AS BIGINT) FROM gf
         |  UNION ALL SELECT 'f_ttr', CAST(count(*) FILTER (
         |    WHERE f_ttr) AS BIGINT) FROM gf
         |  UNION ALL SELECT 'kept', CAST(count(*) FILTER (
         |    WHERE kept) AS BIGINT) FROM gf)
         |ORDER BY rule""".stripMargin) { (s, d) =>
      val f = gopherFlagsOf(s, d)
      val agg = f.agg(
        sum(when(col("f_words"), 1L).otherwise(0L)).as("f_words"),
        sum(when(col("f_avglen"), 1L).otherwise(0L)).as("f_avglen"),
        sum(when(col("f_punct"), 1L).otherwise(0L)).as("f_punct"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("f_stop"),
        sum(when(col("f_dup2"), 1L).otherwise(0L)).as("f_dup2"),
        sum(when(col("f_ttr"), 1L).otherwise(0L)).as("f_ttr"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept"))
      agg.select(explode(array(
          agg.columns.map(c => struct(lit(c).as("rule"),
            col(c).as("n_docs"))): _*)).as("r"))
        .select(col("r.rule"), col("r.n_docs"))
        .orderBy("rule")
    })

  /** WARC shard geometry for the roundtrip fixtures (5 shards at the
    * 500-doc scales).
    */
  private lazy val WarcPerShard = 100L

  /** One WARC shard dir per (session, dataset): the write is
    * side-effecting, so bench reps reuse the first run's shards via
    * [[TempState]] — the measured rows are the reads.
    */
  private def warcStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("warcshards|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val docs = load(s, d, "documents").withColumn("u", urlPayload)
          .select(col("doc_id"), col("u"), col("text"))
        graft.ops.WarcShards.write(docs, "doc_id", "u", "text",
          s"$root/shards", WarcPerShard)
        ()
    }

  private def warcQueries: Seq[QueryDef] = Seq(

    // WARC container roundtrip (WarcShards.write/read): documents
    // packed into WARC/1.0 crawl shards (one warcinfo opener per
    // file, one response record per doc, pinned WARC-Date, record
    // ids = the range index) and read back whole. The payload hash
    // proves byte preservation through the container; the twin
    // re-derives every record — INCLUDING the per-shard warcinfo
    // bodies with their CRLFs — straight from `documents`.
    QueryDef("doc_warc_roundtrip",
      s"""WITH resp AS (SELECT
         |  'urn:graft:resp:' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
         |    AS record_id,
         |  'response' AS warc_type, $sqlUrlSynth AS target_uri,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  ${sqlPhash("text")} AS p_hash FROM documents),
         |sh AS (SELECT DISTINCT doc_id // $WarcPerShard AS shard
         |  FROM documents),
         |info AS (SELECT
         |  'urn:graft:info:' || lpad(CAST(shard AS VARCHAR), 5, '0')
         |    AS record_id,
         |  'warcinfo' AS warc_type, '' AS target_uri,
         |  CAST(length($sqlWarcInfoBody) AS BIGINT) AS n_bytes,
         |  ${sqlPhash(sqlWarcInfoBody)} AS p_hash FROM sh)
         |SELECT * FROM (SELECT * FROM resp UNION ALL SELECT * FROM info)
         |ORDER BY record_id""".stripMargin) { (s, d) =>
      val dir = warcStateDir(s, d)
      graft.ops.WarcShards.read(s, s"$dir/shards")
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("n_bytes"),
          portableHash(col("payload").cast("string")).as("p_hash"))
        .orderBy("record_id")
    },

    // Range-pruned WARC read (WarcShards.readRange): response
    // records for ids [120, 370) — shard files crawl-00001..00003
    // prune BY NAME before any byte opens (the container layout is
    // the partition index), the residual id filter trims the
    // boundary shards, warcinfo records drop by construction.
    QueryDef("doc_warc_range",
      s"""WITH resp AS (SELECT doc_id,
         |  'urn:graft:resp:' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
         |    AS record_id,
         |  'response' AS warc_type, $sqlUrlSynth AS target_uri,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  ${sqlPhash("text")} AS p_hash FROM documents)
         |SELECT record_id, warc_type, target_uri, n_bytes, p_hash
         |FROM resp WHERE doc_id >= 120 AND doc_id < 370
         |ORDER BY record_id""".stripMargin) { (s, d) =>
      val dir = warcStateDir(s, d)
      graft.ops.WarcShards.readRange(s, s"$dir/shards", WarcPerShard,
          120L, 370L)
        .select(col("record_id"), col("warc_type"), col("target_uri"),
          col("n_bytes"),
          portableHash(col("payload").cast("string")).as("p_hash"))
        .orderBy("record_id")
    })

  /** The exact-integer waterfill replayed in SQL — assumes CTEs
    * `s(stratum, w, cap)` (the strata) and `t(wt, b)` (total weight
    * and budget) are in scope; ends at `bh`, whose final allocation
    * is `CASE WHEN capped THEN cap ELSE base + (rk <= rem) END`
    * (the PipelineOps.budgetAllocate trajectory: cross-multiplied
    * HUGEINT rank — no float boundary — largest-remainder rounding).
    * Shared by the frontier fetch-plan twins.
    */
  private lazy val sqlWaterfillCtes: String =
    """bso AS (SELECT s1.*, (SELECT count(*) FROM s s2
      |    WHERE CAST(s2.cap AS HUGEINT) * s1.w
      |        < CAST(s1.cap AS HUGEINT) * s2.w
      |      OR (CAST(s2.cap AS HUGEINT) * s1.w
      |          = CAST(s1.cap AS HUGEINT) * s2.w
      |        AND s2.stratum < s1.stratum)) AS ordn FROM s s1),
      |bo AS (SELECT bso.*, t.wt, t.b,
      |  sum(w) OVER rw AS cumw, sum(cap) OVER rw AS cumc
      |  FROM bso, t
      |  WINDOW rw AS (ORDER BY ordn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |bc AS (SELECT *, CAST(cap AS HUGEINT) * (wt - cumw)
      |    <= CAST(w AS HUGEINT) * (b - cumc) AS capped FROM bo),
      |bf AS (SELECT *,
      |  b - sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
      |    AS resid,
      |  wt - sum(CASE WHEN capped THEN w ELSE 0 END) OVER ()
      |    AS wp FROM bc),
      |bg AS (SELECT *,
      |  CASE WHEN capped THEN cap
      |    ELSE CAST((CAST(w AS HUGEINT) * resid) // wp AS BIGINT)
      |    END AS base,
      |  CASE WHEN capped THEN CAST(-1 AS HUGEINT)
      |    ELSE (CAST(w AS HUGEINT) * resid) % wp END AS frac
      |  FROM bf),
      |bh AS (SELECT *,
      |  resid - sum(CASE WHEN capped THEN 0 ELSE base END) OVER ()
      |    AS rem,
      |  row_number() OVER (ORDER BY frac DESC, stratum) AS rk
      |  FROM bg)""".stripMargin

  /** The warcinfo body replayed in SQL — shares the CRLF layout with
    * [[graft.ops.WarcShards]] by construction.
    */
  private lazy val sqlWarcInfoBody: String =
    "'software: graft' || chr(13) || chr(10) || 'graft-shard: ' || " +
      "lpad(CAST(shard AS VARCHAR), 5, '0') || chr(13) || chr(10)"

  /** Crawl stage-0 composition — this round's operators wired the
    * way a crawl-curation job runs them: robots verdict on the
    * page's URL, block-level HTML extraction, link-density
    * boilerplate strip, canonical URL for downstream dedup. One
    * query, every stage's twin already pinned individually.
    */
  /** The stage-0 twin body, parameterized by the raw-page filter so
    * the table-sourced and WARC-range-sourced variants replay the
    * SAME chain over different slices.
    */
  private def sqlCrawlStage0(where: String): String =
      s"""WITH raw AS (SELECT doc_id, source, $sqlUrlSynth AS u,
         |  $sqlHtmlSynth AS html FROM documents WHERE $where),
         |urls AS (SELECT doc_id, lower(${sqlUrlGrp("u", 2)}) AS host,
         |  ${sqlUrlGrp("u", 4)} AS path, source FROM raw),
         |hosts AS (SELECT DISTINCT host, source FROM urls),
         |rb AS (SELECT host, $sqlRobotsSynth AS txt FROM hosts),
         |$sqlRobotsRulesCtes,
         |rex AS (SELECT DISTINCT host, true AS he FROM rules
         |  WHERE agent = 'graftbot'),
         |app AS (SELECT r.host, r.allow, r.prefix
         |  FROM rules r LEFT JOIN rex USING (host)
         |  WHERE CASE WHEN coalesce(he, false)
         |    THEN r.agent = 'graftbot' ELSE r.agent = '*' END),
         |vm AS (SELECT u.doc_id,
         |  CASE WHEN a.prefix IS NOT NULL
         |      AND (${sqlRobotsHit("u.path", "a.prefix")})
         |    THEN length(a.prefix) * 2
         |      + CASE WHEN a.allow THEN 1 ELSE 0 END END AS rnk
         |  FROM urls u LEFT JOIN app a USING (host)),
         |vr AS (SELECT doc_id,
         |  max(rnk) IS NULL OR max(rnk) % 2 = 1 AS allowed
         |  FROM vm GROUP BY doc_id),
         |hc AS (SELECT doc_id, ${sqlHtmlClean("html")} AS c1 FROM raw),
         |cs AS (SELECT doc_id, regexp_split_to_array(c1,
         |  '${graft.ops.Html.BlockTagRe}') AS arr FROM hc),
         |ix AS (SELECT doc_id, arr, unnest(range(0, len(arr))) AS i
         |  FROM cs),
         |blk AS (SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
         |  arr[i + 1] AS braw FROM ix),
         |nb AS (SELECT doc_id, block_idx,
         |  ${sqlHtmlNorm("braw")} AS block_text,
         |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(
         |      braw, '${graft.ops.Html.AnchorRe}', 1),
         |    a -> length(${sqlHtmlNorm("a")}))), 0) AS BIGINT)
         |    AS link_chars
         |  FROM blk),
         |fb AS (SELECT doc_id, block_idx, block_text,
         |  CAST(length(block_text) AS BIGINT) AS n_chars, link_chars,
         |  link_chars * 1000000 // greatest(length(block_text), 1) >
         |    ${graft.ops.Html.DefaultBoilerplatePpm} AS bp
         |  FROM nb WHERE length(block_text) > 0),
         |agg AS (SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(count(*) FILTER (WHERE bp) AS BIGINT) AS n_boiler,
         |  CAST(coalesce(sum(n_chars) FILTER (WHERE NOT bp), 0)
         |    AS BIGINT) AS clean_chars,
         |  coalesce(string_agg(block_text, chr(10) ORDER BY block_idx)
         |    FILTER (WHERE NOT bp), '') AS text_kept
         |  FROM fb GROUP BY doc_id),
         |${sqlUrlCanonCtes("raw", "cu")}
         |SELECT r.doc_id, v.allowed, cu.canonical,
         |  coalesce(g.n_blocks, 0) AS n_blocks,
         |  coalesce(g.n_boiler, 0) AS n_boiler,
         |  coalesce(g.clean_chars, 0) AS clean_chars,
         |  ${sqlPhash("coalesce(g.text_kept, '')")} AS text_hash,
         |  v.allowed AND coalesce(g.clean_chars, 0) > 0 AS kept
         |FROM raw r JOIN vr v USING (doc_id)
         |  LEFT JOIN agg g USING (doc_id)
         |  JOIN cucanon cu ON cu.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin

  /** The stage-0 Spark-side composition over a raw page frame
    * (doc_id, source, u, html) — shared by the table-sourced and
    * WARC-sourced variants.
    */
  private def crawlStage0Frame(
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val urls = raw.select(col("doc_id"),
        lower(regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 2))
          .as("host"),
        regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 4).as("path"),
        col("source"))
      val rules = graft.ops.UrlOps.robotsRules(
        urls.select("host", "source").distinct()
          .withColumn("txt", robotsPayload), col("host"), col("txt"))
      val verdict = graft.ops.UrlOps.robotsVerdict(
          urls.select("doc_id", "host", "path"), rules, "graftbot")
        .select(col("doc_id"), col("allowed"))
      val blocks = graft.ops.Html.blocks(raw, col("doc_id"),
        col("html"))
      val agg = blocks.groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("boilerplate"), 1L).otherwise(0L))
            .as("n_boiler"),
          coalesce(sum(when(!col("boilerplate"), col("n_chars"))),
            lit(0L)).as("clean_chars"),
          array_join(transform(array_sort(collect_list(
              when(!col("boilerplate"),
                struct(col("block_idx"), col("block_text"))))),
            x => x.getField("block_text")), "\n").as("text_kept"))
      raw.select(col("doc_id"),
          graft.ops.UrlOps.canonicalize(col("u")).as("canonical"))
        .join(verdict, "doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("allowed"), col("canonical"),
          coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          coalesce(col("clean_chars"), lit(0L)).as("clean_chars"),
          portableHash(coalesce(col("text_kept"), lit("")))
            .as("text_hash"),
          (col("allowed") && coalesce(col("clean_chars"), lit(0L)) > 0)
            .as("kept"))
        .orderBy("doc_id")
  }

  /** One HTML-page WARC shard dir per (session, dataset): the pages
    * the stage-0 pipeline consumes, packed the way crawl output
    * actually arrives (WARC response records keyed by URL).
    */
  private def warcHtmlStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("warchtml|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val docs = load(s, d, "documents")
          .withColumn("u", urlPayload).withColumn("html", htmlPayload)
          .select(col("doc_id"), col("u"), col("html"))
        graft.ops.WarcShards.write(docs, "doc_id", "u", "html",
          s"$root/shards", WarcPerShard)
        ()
    }

  private def crawlStage0Queries: Seq[QueryDef] = Seq(
    QueryDef("doc_crawl_stage0", sqlCrawlStage0("TRUE")) { (s, d) =>
      crawlStage0Frame(load(s, d, "documents")
        .withColumn("u", urlPayload).withColumn("html", htmlPayload))
    },

    // The same stage-0 chain fed the way 100 TB of crawl data
    // actually arrives: pages packed into WARC response records, a
    // shard subset range-read BY NAME (ids [120, 370) → files
    // crawl-00001..00003 open, everything else never reads a byte),
    // doc id from the record id, URL from WARC-Target-URI, HTML from
    // the payload bytes, source re-derived from the host (the crawl
    // input carries no table columns). Downstream: robots verdict →
    // block extraction → boilerplate strip → canonical URL — the
    // doc_crawl_stage0 composition, byte-for-byte through the
    // container. The twin replays the chain over the same id range
    // straight from `documents`, so any container corruption or
    // header mangling breaks the hash.
    QueryDef("doc_crawl_stage0_warc",
      sqlCrawlStage0("doc_id >= 120 AND doc_id < 370")) { (s, d) =>
      val dir = warcHtmlStateDir(s, d)
      val recs = graft.ops.WarcShards.readRange(s, s"$dir/shards",
        WarcPerShard, 120L, 370L)
      val raw = recs.select(
          expr("cast(substring(record_id, 16, 12) as bigint)")
            .as("doc_id"),
          col("target_uri").as("u"),
          col("payload").cast("string").as("html"))
        .withColumn("source", regexp_extract(
          lower(regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 2)),
          "(src[0-9]+)\\.", 1))
      crawlStage0Frame(raw)
    },

    // The crawl scheduler's fetch plan — this round's pieces joined
    // the way a frontier actually uses them: outbound links
    // canonicalized (the candidate URLs), robots verdict for
    // graftbot on each TARGET host (source derived from the host —
    // frontier input carries no table columns), per-host capacity =
    // its distinct allowed URLs, priority = the host's crawl-graph
    // PageRank (exact e9 trajectory), and budgetAllocate
    // waterfilling half the total capacity across hosts by that
    // priority. Output: one row per fetchable host with its
    // registered domain, priority, capacity, exact allocation and
    // the capped flag (Σ alloc == Σ cap // 2 exactly —
    // BudgetAllocateSpec pins the invariant on this composition).
    // The twin replays link extraction, canonicalization, the PR
    // trajectory, the robots longest-match and the entire exact
    // waterfill.
    QueryDef("doc_crawl_frontier",
      frontierSql) { (s, d) =>
      val (strata, _) = frontierStrata(s, d)
      val capTot = strata.agg(sum(col("cap"))).head().getLong(0)
      graft.ops.PipelineOps.budgetAllocate(strata, col("host"),
          col("pr_e9"), col("cap"), capTot / 2L)
        .select(col("stratum").as("host"),
          graft.ops.UrlOps.registeredDomain(col("stratum"))
            .as("reg_domain"),
          col("w").as("pr_e9"), col("cap").as("n_urls"),
          col("alloc"), col("capped"))
        .orderBy("host")
    },

    // The fetch plan with per-host PACING — the r15 verdict's last
    // robots gap: Crawl-delay was parsed as noise and the frontier
    // allocated capacity with no politeness bound. Here each host's
    // capacity is least(its allowed URLs, window // delay) where the
    // delay is graftbot's group-scoped Crawl-delay
    // (UrlOps.robotsCrawlDelays — an agent with its own group never
    // inherits the `*` group's delay, the one-applicable-group rule;
    // absent → 1 s default), window = FrontierWindowS (5 s). The
    // waterfill then splits HALF the PACED capacity by PageRank —
    // politeness binds before priority. Twin replays the delay
    // extraction (max over the agent's merged groups, non-integer
    // drops) and the exact waterfill.
    QueryDef("doc_crawl_frontier_paced",
      frontierPacedSql) { (s, d) =>
      val (strata, dl) = frontierStrata(s, d)
      val exact = dl.filter(col("agent") === "graftbot")
        .select(col("host"), lit(true).as("__named"),
          col("delay_s").as("__de"))
      val star = dl.filter(col("agent") === "*")
        .select(col("host"), col("delay_s").as("__ds"))
      // host-domain frame feeding both the allocator and the final
      // report join — cut once so the robots/PR chain runs once
      val paced = graft.ops.Materialize.cut(strata
        .join(exact, Seq("host"), "left")
        .join(star, Seq("host"), "left")
        .withColumn("delay_s",
          when(coalesce(col("__named"), lit(false)),
            coalesce(col("__de"), lit(1L)))
            .otherwise(coalesce(col("__ds"), lit(1L))))
        .withColumn("pcap", when(col("delay_s") <= 0L, col("cap"))
          .otherwise(least(col("cap"),
            expr(s"$FrontierWindowS div delay_s"))))
        .select(col("host"), col("pr_e9"), col("cap"),
          col("delay_s"), col("pcap")))
      val pacedTot = paced.agg(sum(col("pcap"))).head().getLong(0)
      graft.ops.PipelineOps.budgetAllocate(paced, col("host"),
          col("pr_e9"), col("pcap"), pacedTot / 2L)
        .select(col("stratum"), col("w").as("pr_e9"),
          col("cap").as("paced_cap"), col("alloc"), col("capped"))
        .join(paced.select(col("host").as("stratum"),
          col("cap").as("n_urls"), col("delay_s")), "stratum")
        .select(col("stratum").as("host"), col("pr_e9"),
          col("n_urls"), col("delay_s"), col("paced_cap"),
          col("alloc"), col("capped"))
        .orderBy("host")
    })

  /** Frontier fetch-plan strata shared by the plain and paced
    * variants: (strata = (host, pr_e9, cap), delays = the lazy
    * per-(host, agent) Crawl-delay frame off the SAME robots block
    * parse as the rules) — links canonicalized once
    * (Materialize-cut: the regex-heavy extraction feeds four
    * consumers), PR over the host graph, robots verdict per
    * candidate URL, capacity = the host's distinct allowed URLs.
    */
  private def frontierStrata(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
      val pages = load(s, d, "documents").withColumn("html", linkPayload)
      val lk = graft.ops.Html.links(pages, col("doc_id"), col("html"))
      val src = load(s, d, "documents")
        .select(col("doc_id").as("id"), col("source"))
      val cand = graft.ops.Materialize.cut(lk.join(src, "id")
        .select(col("source").as("src_label"),
          graft.ops.UrlOps.canonicalize(col("href")).as("canonical"))
        .filter(col("canonical").isNotNull))
      val edges = cand
        .groupBy(col("src_label").as("s_a"),
          regexp_extract(col("canonical"), graft.ops.UrlOps.UrlRe, 2)
            .as("s_b"))
        .agg(count(lit(1)).as("w"))
      val pr = GraphOps.pageRank(edges, PrIters)
        .select(col("node").as("host"), col("pr_e9"))
      val urls = cand.select(
          regexp_extract(col("canonical"), graft.ops.UrlOps.UrlRe, 2)
            .as("host"),
          regexp_extract(col("canonical"), graft.ops.UrlOps.UrlRe, 4)
            .as("path"),
          col("canonical")).distinct()
      val hosts = urls.select(col("host")).distinct()
        .withColumn("source",
          regexp_extract(col("host"), "(src[0-9]+)\\.", 1))
        .withColumn("txt", robotsPayload)
      // rules AND delays off ONE robots block parse (the paced
      // variant consumes the delays; the plain frontier never
      // evaluates the lazy frame)
      val (rules, delays) = graft.ops.UrlOps.robotsRulesAndDelays(
        hosts, col("host"), col("txt"))
      val verdict = graft.ops.UrlOps.robotsVerdict(urls, rules,
        "graftbot")
      val perHost = verdict.filter(col("allowed"))
        .groupBy("host").agg(count(lit(1)).as("cap"))
      (perHost.join(pr, "host"), delays)
  }

  /** Pacing window for doc_crawl_frontier_paced (seconds): sized so
    * the fixture's Crawl-delay 5 BINDS at the oracle scale — sf0.01
    * hosts hold 1..3 allowed URLs, so a 5 s window caps delay-5
    * hosts at 1 fetch (binding on the 2..3-URL hosts) while delay-1
    * hosts keep their full capacity — pacing visibly reshapes the
    * plan the oracle hashes.
    */
  // `final` without a type ascription: a compile-time constant the
  // twin SQL interpolates correctly even when the query list is
  // assembled during object init, BEFORE later-declared plain vals
  // are assigned (a plain val here interpolated as 0)
  private final val FrontierWindowS = 5L

  /** The frontier twin's shared CTE prefix — link extraction →
    * canonicalization → host PageRank → robots verdict → per-host
    * allowed-URL capacity `ph(host, cap)` (plus `hs`, `bk`, `ags`
    * from the robots parse, which the paced variant's delay
    * extraction reuses).
    */
  private lazy val frontierPrefixSql: String =
      s"""pg AS (SELECT doc_id, source, $sqlLinkSynth AS html
         |  FROM documents),
         |c AS (SELECT doc_id, source, ${sqlHtmlClean("html")} AS c1
         |  FROM pg),
         |lx AS (SELECT doc_id, source,
         |  unnest(regexp_extract_all(c1,
         |    '${graft.ops.Html.AnchorHrefRe}', 1)) AS u FROM c),
         |${sqlUrlCanonCtes("lx")},
         |cc AS (SELECT source AS src_label, canonical FROM canon
         |  WHERE canonical IS NOT NULL),
         |pairs AS (SELECT src_label AS sa, regexp_extract(canonical,
         |    '${graft.ops.UrlOps.UrlRe}', 2) AS sb,
         |  CAST(count(*) AS BIGINT) AS w FROM cc GROUP BY 1, 2),
         |${prTrajectoryCtes("")},
         |urls AS (SELECT DISTINCT regexp_extract(canonical,
         |    '${graft.ops.UrlOps.UrlRe}', 2) AS host,
         |  regexp_extract(canonical,
         |    '${graft.ops.UrlOps.UrlRe}', 4) AS path,
         |  canonical FROM cc),
         |hs AS (SELECT DISTINCT host,
         |  regexp_extract(host, '(src[0-9]+)\\.', 1) AS source
         |  FROM urls),
         |rb AS (SELECT host, $sqlRobotsSynth AS txt FROM hs),
         |$sqlRobotsRulesCtes,
         |rex AS (SELECT DISTINCT host, true AS he FROM rules
         |  WHERE agent = 'graftbot'),
         |app AS (SELECT r.host, r.allow, r.prefix
         |  FROM rules r LEFT JOIN rex USING (host)
         |  WHERE CASE WHEN coalesce(he, false)
         |    THEN r.agent = 'graftbot' ELSE r.agent = '*' END),
         |m AS (SELECT u.host, u.canonical,
         |  CASE WHEN a.prefix IS NOT NULL
         |      AND (${sqlRobotsHit("u.path", "a.prefix")})
         |    THEN length(a.prefix) * 2
         |      + CASE WHEN a.allow THEN 1 ELSE 0 END END AS rnk
         |  FROM urls u LEFT JOIN app a USING (host)),
         |vr AS (SELECT host, canonical,
         |  max(rnk) IS NULL OR max(rnk) % 2 = 1 AS allowed
         |  FROM m GROUP BY host, canonical),
         |ph AS (SELECT host, CAST(count(*) AS BIGINT) AS cap
         |  FROM vr WHERE allowed GROUP BY host)""".stripMargin

  private lazy val frontierSql: String =
      s"""WITH $frontierPrefixSql,
         |s AS (SELECT ph.host AS stratum, p.pr AS w, ph.cap
         |  FROM ph JOIN p$PrIters p ON p.s = ph.host),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt,
         |  CAST(sum(cap) // 2 AS BIGINT) AS b FROM s),
         |$sqlWaterfillCtes
         |SELECT stratum AS host, ${sqlRegDomain("stratum")} AS reg_domain,
         |  w AS pr_e9, cap AS n_urls,
         |  CAST(CASE WHEN capped THEN cap
         |    ELSE base + CASE WHEN rk <= rem THEN 1 ELSE 0 END
         |    END AS BIGINT) AS alloc, capped
         |FROM bh ORDER BY host""".stripMargin

  private lazy val frontierPacedSql: String =
      s"""WITH $frontierPrefixSql,
         |dlt AS (SELECT a.host, a.agent,
         |  max(CASE WHEN b.field = 'crawl-delay'
         |    AND regexp_matches(b.value, '^[0-9]+$$')
         |    THEN CAST(b.value AS BIGINT) END) AS delay_s
         |  FROM ags a JOIN bk b ON b.host = a.host AND b.blk = a.blk
         |  GROUP BY 1, 2),
         |dnx AS (SELECT DISTINCT host, true AS named FROM ags
         |  WHERE agent = 'graftbot'),
         |dde AS (SELECT host, delay_s FROM dlt
         |  WHERE agent = 'graftbot'),
         |dds AS (SELECT host, delay_s FROM dlt WHERE agent = '*'),
         |hdl AS (SELECT h.host, CASE WHEN coalesce(x.named, false)
         |    THEN coalesce(e.delay_s, 1)
         |    ELSE coalesce(sd.delay_s, 1) END AS delay_s
         |  FROM hs h LEFT JOIN dnx x USING (host)
         |    LEFT JOIN dde e USING (host)
         |    LEFT JOIN dds sd USING (host)),
         |hp AS (SELECT ph.host, ph.cap AS nurls, hdl.delay_s,
         |  CASE WHEN hdl.delay_s <= 0 THEN ph.cap
         |    ELSE least(ph.cap, $FrontierWindowS // hdl.delay_s)
         |    END AS pcap
         |  FROM ph JOIN hdl USING (host)),
         |s AS (SELECT hp.host AS stratum, p.pr AS w, hp.pcap AS cap
         |  FROM hp JOIN p$PrIters p ON p.s = hp.host),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt,
         |  CAST(sum(cap) // 2 AS BIGINT) AS b FROM s),
         |$sqlWaterfillCtes
         |SELECT stratum AS host, w AS pr_e9, hp.nurls AS n_urls,
         |  hp.delay_s, CAST(hp.pcap AS BIGINT) AS paced_cap,
         |  CAST(CASE WHEN capped THEN cap
         |    ELSE base + CASE WHEN rk <= rem THEN 1 ELSE 0 END
         |    END AS BIGINT) AS alloc, capped
         |FROM bh JOIN hp ON hp.host = bh.stratum
         |ORDER BY host""".stripMargin

  // ---------------------------------------------------------------
  // URL canonicalization / registered domain / link graph
  // ---------------------------------------------------------------

  /** Synthesized raw URL per document — every canonicalization seam
    * exercised: scheme case (every 7th doc), a `www.` prefix (every
    * 5th), an explicit default port `:80` (every 11th) vs a real
    * `:8080` (every 13th), a trailing path slash (every 9th), four
    * query-string variants (tracking params, parameter order), and a
    * fragment (every 3rd). `doc_id % 50` drives path/id collisions so
    * canonical dedup has real groups. Built by the SAME concat on
    * both sides.
    */
  private lazy val sqlSrcIdx = "CAST(substring(source, 4) AS BIGINT)"
  private def srcIdx: org.apache.spark.sql.Column =
    expr("cast(substring(source, 4) as bigint)")

  private lazy val UrlTlds = Seq("com", "org", "co.uk", "github.io")

  private def urlPayload: org.apache.spark.sql.Column = {
    val pathN = pmod(col("doc_id"), lit(50L))
    concat(
      when(col("doc_id") % 7 === 0, lit("HTTP")).otherwise(lit("http")),
      lit("://"),
      when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit("."),
      element_at(typedLit(UrlTlds), (pmod(srcIdx, lit(4L)) + 1).cast("int")),
      when(col("doc_id") % 11 === 0, lit(":80"))
        .when(col("doc_id") % 13 === 0, lit(":8080")).otherwise(lit("")),
      lit("/articles/"), pathN,
      when(col("doc_id") % 9 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&id="), pathN, lit("&sort=asc")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("?id="), pathN, lit("&sort=asc")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("?sort=asc&id="), pathN, lit("&fbclid=xyz")))
        .otherwise(concat(lit("?sort=asc&id="), pathN)),
      when(col("doc_id") % 3 === 0, lit("#section-2")).otherwise(lit("")))
  }

  private lazy val sqlUrlSynth: String = {
    val tlds = UrlTlds.map(t => s"'$t'").mkString("[", ",", "]")
    s"""CASE WHEN doc_id % 7 = 0 THEN 'HTTP' ELSE 'http' END || '://' ||
       |  CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END ||
       |  source || '.' || ($tlds)[CAST($sqlSrcIdx % 4 AS INT) + 1] ||
       |  CASE WHEN doc_id % 11 = 0 THEN ':80'
       |    WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END ||
       |  '/articles/' || doc_id % 50 ||
       |  CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0
       |      THEN '?utm_source=feed&id=' || doc_id % 50 || '&sort=asc'
       |    WHEN doc_id % 4 = 1 THEN '?id=' || doc_id % 50 || '&sort=asc'
       |    WHEN doc_id % 4 = 2
       |      THEN '?sort=asc&id=' || doc_id % 50 || '&fbclid=xyz'
       |    ELSE '?sort=asc&id=' || doc_id % 50 END ||
       |  CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END"""
      .stripMargin
  }

  /** DuckDB twin of [[graft.ops.UrlOps]]'s grammar extraction. */
  private def sqlUrlGrp(x: String, i: Int): String =
    s"regexp_extract($x, '${graft.ops.UrlOps.UrlRe}', $i)"

  /** DuckDB twin of UrlOps.registeredDomain over a host expression. */
  private def sqlRegDomain(h: String): String = {
    val sfx = graft.ops.UrlOps.TwoLabelSuffixes
      .map(s => s"'$s'").mkString("[", ",", "]")
    s"""CASE WHEN len(string_split($h, '.')) <= 2 THEN $h
       |  WHEN list_contains($sfx,
       |      array_to_string((string_split($h, '.'))[-2:], '.'))
       |    THEN array_to_string((string_split($h, '.'))[-3:], '.')
       |  ELSE array_to_string((string_split($h, '.'))[-2:], '.')
       |END""".stripMargin
  }

  /** DuckDB twin of UrlOps.canonParams: drop empties + tracking,
    * binary sort of the surviving `k=v` strings.
    */
  private def sqlCanonQuery(q: String): String = {
    val names = graft.ops.UrlOps.TrackingParams
      .map(s => s"'$s'").mkString("[", ",", "]")
    // coalesce: DuckDB's array_to_string over an EMPTY list is NULL
    // where Spark's array_join is '' — all-tracking query strings hit
    // the empty case
    s"coalesce(array_to_string(list_sort(list_filter(string_split($q, " +
      s"'&'), p -> p <> '' AND NOT starts_with(" +
      s"regexp_extract(p, '^([^=]*)', 1), 'utm_') AND NOT list_contains(" +
      s"$names, regexp_extract(p, '^([^=]*)', 1)))), '&'), '')"
  }

  /** DuckDB twin of UrlOps.canonicalize, as a CTE body over a table
    * exposing column `u` (the raw URL): emits the canonical URL (or
    * NULL when the grammar rejects). Structured as staged CTEs so
    * each grammar group extracts once.
    */
  private def sqlUrlCanonCtes(src: String, p: String = ""): String =
    s"""${p}g AS (SELECT *, lower(${sqlUrlGrp("u", 1)}) AS sch,
       |  regexp_replace(lower(${sqlUrlGrp("u", 2)}), '^www\\.', '')
       |    AS hst,
       |  ${sqlUrlGrp("u", 3)} AS ps, ${sqlUrlGrp("u", 4)} AS p0,
       |  ${sqlCanonQuery(sqlUrlGrp("u", 5))} AS q FROM $src),
       |${p}canon AS (SELECT *, CASE WHEN sch = '' THEN NULL
       |  ELSE sch || '://' || hst ||
       |    CASE WHEN ps = '' OR (sch = 'http' AND ps = '80')
       |      OR (sch = 'https' AND ps = '443') THEN ''
       |      ELSE ':' || ps END ||
       |    CASE WHEN p0 = '' THEN '/'
       |      WHEN length(p0) > 1 AND p0 LIKE '%/'
       |        THEN substr(p0, 1, length(p0) - 1)
       |      ELSE p0 END ||
       |    CASE WHEN q = '' THEN '' ELSE '?' || q END
       |  END AS canonical FROM ${p}g)""".stripMargin

  /** URL-frontier gate state: three doc_id%3 micro-batches through
    * the stateful seen-set, with a compaction BETWEEN batches 1 and
    * 2 so the third batch probes the committed h-bucketed base plus
    * the unfolded recent partition — the cross-compaction read is
    * oracle-pinned, not just spec'd. Every 17th URL is swapped for a
    * relative path the grammar rejects.
    */
  private def urlGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("urlgate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val gate = new graft.streaming.UrlGate(s, root)
        val docs = load(s, d, "documents").withColumn("u", urlPayload)
          .select(col("doc_id").as("id"),
            when(col("doc_id") % 17 === 0,
              concat(lit("/relative/"), col("doc_id")))
              .otherwise(col("u")).as("url"))
        gate.applyBatch(docs.filter(col("id") % 3 === 0), 0L)
        gate.applyBatch(docs.filter(col("id") % 3 === 1), 1L)
        gate.compact(currentBatchId = 1L)
        gate.vacuum(currentBatchId = 1L)
        gate.applyBatch(docs.filter(col("id") % 3 === 2), 2L)
    }

  private def urlQueries: Seq[QueryDef] = Seq(

    // Streaming URL-frontier gate e2e (UrlGate on the shared
    // StandingGate): three micro-batches of candidate URLs through
    // the standing canonical-hash seen-set — within-batch claims go
    // to the smallest id, later batches' re-spellings of an admitted
    // URL come back dup_of_corpus, grammar rejects come back
    // rejected, and batch 2 reads THROUGH a committed compaction.
    // The twin replays canonicalization, the same portableHash (a
    // collision cannot diverge the sides), the per-batch min-id
    // claims and the unrolled admitted-set chain.
    QueryDef("doc_url_gate_e2e",
      s"""WITH raw AS (SELECT doc_id, $sqlUrlSynth AS u0 FROM documents),
         |r2 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
         |  THEN '/relative/' || doc_id ELSE u0 END AS u FROM raw),
         |${sqlUrlCanonCtes("r2")},
         |cx AS (SELECT doc_id, canonical,
         |  ${sqlPhash("canonical")} AS h, doc_id % 3 AS b FROM canon),
         |cl AS (SELECT b, h, min(doc_id) AS keeper FROM cx
         |  WHERE canonical IS NOT NULL GROUP BY b, h),
         |adm0 AS (SELECT DISTINCT c.h FROM cx c JOIN cl
         |  ON cl.b = 0 AND cl.h = c.h AND cl.keeper = c.doc_id
         |  WHERE c.b = 0),
         |adm1 AS (SELECT DISTINCT c.h FROM cx c JOIN cl
         |  ON cl.b = 1 AND cl.h = c.h AND cl.keeper = c.doc_id
         |  WHERE c.b = 1 AND c.h NOT IN (SELECT h FROM adm0)),
         |v0 AS (SELECT c.doc_id, c.canonical,
         |  CASE WHEN c.canonical IS NULL THEN 'rejected'
         |    WHEN c.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM cx c LEFT JOIN cl ON cl.b = 0 AND cl.h = c.h
         |  WHERE c.b = 0),
         |v1 AS (SELECT c.doc_id, c.canonical,
         |  CASE WHEN c.canonical IS NULL THEN 'rejected'
         |    WHEN c.h IN (SELECT h FROM adm0) THEN 'dup_of_corpus'
         |    WHEN c.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM cx c LEFT JOIN cl ON cl.b = 1 AND cl.h = c.h
         |  WHERE c.b = 1),
         |v2 AS (SELECT c.doc_id, c.canonical,
         |  CASE WHEN c.canonical IS NULL THEN 'rejected'
         |    WHEN c.h IN (SELECT h FROM adm0
         |      UNION SELECT h FROM adm1) THEN 'dup_of_corpus'
         |    WHEN c.doc_id <> cl.keeper THEN 'dup_in_batch'
         |    ELSE 'admitted' END AS verdict
         |  FROM cx c LEFT JOIN cl ON cl.b = 2 AND cl.h = c.h
         |  WHERE c.b = 2)
         |SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch,
         |  canonical, verdict
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
         |  UNION ALL SELECT * FROM v2)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = urlGateStateDir(s, d)
      new graft.streaming.UrlGate(s, dir).readVerdicts(2L)
        .select(col("id").as("doc_id"), col("batch"),
          col("canonical"), col("verdict"))
        .orderBy("doc_id")
    },

    // URL grammar + registered domain + canonical form, one row per
    // doc (UrlOps.parse / canonicalize): the full component split
    // with the -1 port sentinel, the embedded public-suffix subset
    // deciding two vs three registered labels, and the canonical
    // string every dedup/link-graph consumer keys on. Zero shuffles
    // before the output sort.
    QueryDef("doc_url_parse",
      s"""WITH raw AS (SELECT doc_id, $sqlUrlSynth AS u FROM documents),
         |${sqlUrlCanonCtes("raw")}
         |SELECT doc_id, u AS url, sch AS scheme,
         |  lower(${sqlUrlGrp("u", 2)}) AS host,
         |  CASE WHEN ps = '' THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(ps AS BIGINT) END AS port,
         |  p0 AS path, ${sqlUrlGrp("u", 5)} AS query,
         |  ${sqlUrlGrp("u", 6)} AS fragment,
         |  ${sqlRegDomain(s"lower(${sqlUrlGrp("u", 2)})")} AS reg_domain,
         |  canonical
         |FROM canon ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents").withColumn("u", urlPayload)
      graft.ops.UrlOps.parse(docs, col("doc_id"), col("u"))
        .withColumn("canonical", graft.ops.UrlOps.canonicalize(col("url")))
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "url", "scheme", "host", "port", "path",
          "query", "fragment", "reg_domain", "canonical")
        .orderBy("doc_id")
    },

    // Canonical-URL dedup: group on the canonical form — scheme
    // case, www, :80, the trailing slash, tracking params, parameter
    // order and fragments all collapse; :8080 and the id=N path
    // survive as real distinctions. keeper = min doc_id (first
    // fetch wins). One map-side-combined shuffle on the canonical.
    QueryDef("doc_url_dedup",
      s"""WITH raw AS (SELECT doc_id, $sqlUrlSynth AS u FROM documents),
         |${sqlUrlCanonCtes("raw")}
         |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM canon WHERE canonical IS NOT NULL
         |GROUP BY canonical ORDER BY canonical""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents").withColumn("u", urlPayload)
      docs.select(col("doc_id"),
          graft.ops.UrlOps.canonicalize(col("u")).as("canonical"))
        .filter(col("canonical").isNotNull)
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .orderBy("canonical")
    },

    // Per-registered-domain crawl census: host-diversity and volume
    // per apex domain — the grain a crawl-curation policy acts on
    // (domain allowlists, per-domain quality floors, crawl budgets).
    QueryDef("doc_domain_stats",
      s"""WITH raw AS (SELECT doc_id, n_chars, lang,
         |  $sqlUrlSynth AS u FROM documents),
         |h AS (SELECT doc_id, n_chars, lang,
         |  lower(${sqlUrlGrp("u", 2)}) AS host FROM raw)
         |SELECT ${sqlRegDomain("host")} AS reg_domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM h GROUP BY 1 ORDER BY reg_domain""".stripMargin) { (s, d) =>
      val docs = load(s, d, "documents").withColumn("u", urlPayload)
      docs.select(col("doc_id"), col("n_chars"), col("lang"),
          lower(regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 2))
            .as("host"))
        .groupBy(graft.ops.UrlOps.registeredDomain(col("host"))
          .as("reg_domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("reg_domain")
    },

    // Host-level link graph off HTML (Html.links → UrlOps
    // .canonicalize): each doc's synthesized page carries two
    // absolute outbound anchors (one shouting-case https with www +
    // default port, one with tracking params) and one relative href
    // the URL grammar rejects (canonical NULL → dropped, the
    // frontier's schemeless-link branch). Edges aggregate at
    // (source, destination host) — the grain a crawl scheduler and a
    // syndication detector both consume.
    QueryDef("doc_link_graph",
      s"""WITH pg AS (SELECT doc_id, source, $sqlLinkSynth AS html
         |  FROM documents),
         |c AS (SELECT doc_id, source, ${sqlHtmlClean("html")} AS c1
         |  FROM pg),
         |lx AS (SELECT doc_id, source,
         |  unnest(regexp_extract_all(c1,
         |    '${graft.ops.Html.AnchorHrefRe}', 1)) AS u FROM c),
         |${sqlUrlCanonCtes("lx")}
         |SELECT source, regexp_extract(canonical,
         |    '${graft.ops.UrlOps.UrlRe}', 2) AS dst_host,
         |  CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM canon WHERE canonical IS NOT NULL
         |GROUP BY 1, 2 ORDER BY source, dst_host""".stripMargin) { (s, d) =>
      val pages = load(s, d, "documents").withColumn("html", linkPayload)
      val lk = graft.ops.Html.links(pages, col("doc_id"), col("html"))
      val src = load(s, d, "documents")
        .select(col("doc_id").as("id"), col("source"))
      lk.join(src, "id")
        .select(col("id"), col("source"),
          graft.ops.UrlOps.canonicalize(col("href")).as("canonical"))
        .filter(col("canonical").isNotNull)
        .groupBy(col("source"),
          regexp_extract(col("canonical"), graft.ops.UrlOps.UrlRe, 2)
            .as("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("id")).as("n_docs"))
        .orderBy("source", "dst_host")
    },

    // Crawl-graph centrality: the link-graph edges (source page →
    // canonicalized destination host, weight = link count) feed the
    // SAME exact-trajectory PageRank as the affinity graphs
    // (GraphOps.pageRank, e12-quantized transfers) — the
    // crawl-scheduler's priority signal, composed entirely from this
    // round's link extraction plus the audited iteration.
    QueryDef("doc_link_pagerank",
      s"""WITH pg AS (SELECT doc_id, source, $sqlLinkSynth AS html
         |  FROM documents),
         |c AS (SELECT doc_id, source, ${sqlHtmlClean("html")} AS c1
         |  FROM pg),
         |lx AS (SELECT doc_id, source,
         |  unnest(regexp_extract_all(c1,
         |    '${graft.ops.Html.AnchorHrefRe}', 1)) AS u FROM c),
         |${sqlUrlCanonCtes("lx")},
         |pairs AS (SELECT source AS sa, regexp_extract(canonical,
         |    '${graft.ops.UrlOps.UrlRe}', 2) AS sb,
         |  CAST(count(*) AS BIGINT) AS w
         |  FROM canon WHERE canonical IS NOT NULL GROUP BY 1, 2),
         |${prTrajectoryCtes("")}
         |SELECT s AS node, pr AS pr_e9 FROM p$PrIters
         |ORDER BY node""".stripMargin) { (s, d) =>
      val pages = load(s, d, "documents").withColumn("html", linkPayload)
      val lk = graft.ops.Html.links(pages, col("doc_id"), col("html"))
      val src = load(s, d, "documents")
        .select(col("doc_id").as("id"), col("source"))
      val edges = lk.join(src, "id")
        .select(col("source"),
          graft.ops.UrlOps.canonicalize(col("href")).as("canonical"))
        .filter(col("canonical").isNotNull)
        .groupBy(col("source").as("s_a"),
          regexp_extract(col("canonical"), graft.ops.UrlOps.UrlRe, 2)
            .as("s_b"))
        .agg(count(lit(1)).as("w"))
      GraphOps.pageRank(edges, PrIters)
        .select(col("node"), col("pr_e9"))
        .orderBy("node")
    },

    // robots.txt politeness gate (UrlOps.robotsRules +
    // robotsVerdict): per-source robots bodies carry a `*` group
    // (Disallow /articles/1, Allow /articles/12 — the longest-match
    // rescue), even sources add a `graftbot` group that must FULLY
    // SHADOW `*` for that agent, a Crawl-delay line the field filter
    // skips, and a bare `Disallow:` the empty-value rule drops
    // (RFC 9309: it disallows nothing). The twin replays line
    // parsing, the last-User-agent window, group dispatch and the
    // packed longest-match rank.
    QueryDef("doc_robots_gate",
      s"""WITH raw AS (SELECT doc_id, source, $sqlUrlSynth AS u
         |  FROM documents),
         |urls AS (SELECT doc_id, lower(${sqlUrlGrp("u", 2)}) AS host,
         |  ${sqlUrlGrp("u", 4)} AS path, source FROM raw),
         |hosts AS (SELECT DISTINCT host, source FROM urls),
         |rb AS (SELECT host, $sqlRobotsSynth AS txt FROM hosts),
         |$sqlRobotsRulesCtes,
         |ex AS (SELECT DISTINCT host, true AS he FROM rules
         |  WHERE agent = 'graftbot'),
         |app AS (SELECT r.host, r.allow, r.prefix
         |  FROM rules r LEFT JOIN ex USING (host)
         |  WHERE CASE WHEN coalesce(he, false)
         |    THEN r.agent = 'graftbot' ELSE r.agent = '*' END),
         |m AS (SELECT u.doc_id, u.host, u.path,
         |  CASE WHEN a.prefix IS NOT NULL
         |      AND (${sqlRobotsHit("u.path", "a.prefix")})
         |    THEN length(a.prefix) * 2
         |      + CASE WHEN a.allow THEN 1 ELSE 0 END END AS rnk
         |  FROM urls u LEFT JOIN app a USING (host))
         |SELECT doc_id, host, path,
         |  max(rnk) IS NULL OR max(rnk) % 2 = 1 AS allowed
         |FROM m GROUP BY doc_id, host, path
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val raw = load(s, d, "documents").withColumn("u", urlPayload)
      val urls = raw.select(col("doc_id"),
        lower(regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 2))
          .as("host"),
        regexp_extract(col("u"), graft.ops.UrlOps.UrlRe, 4).as("path"),
        col("source"))
      val hosts = urls.select("host", "source").distinct()
        .withColumn("txt", robotsPayload)
      val rules = graft.ops.UrlOps.robotsRules(hosts, col("host"),
        col("txt"))
      graft.ops.UrlOps.robotsVerdict(
          urls.select("doc_id", "host", "path"), rules, "graftbot")
        .orderBy("doc_id")
    })

  /** Synthesized page for the link graph: two absolute outbound
    * anchors whose targets rotate deterministically through the
    * source domain space (t1 = src_idx+1+doc_id%3, t2 = src_idx+7,
    * both mod 20) — one needing only tracking-param cleanup, one in
    * shouting case with `www.` + the https default port — plus one
    * RELATIVE href the URL grammar rejects. Same concat both sides.
    */
  private def linkPayload: org.apache.spark.sql.Column = concat(
    lit("<html><body><p>See also</p><a href=\"http://src"),
    pmod(srcIdx + 1 + pmod(col("doc_id"), lit(3L)), lit(20L)),
    lit(".com/p/"), pmod(col("doc_id"), lit(10L)),
    lit("?utm_campaign=x&ref=feed\">first</a> and " +
      "<a href=\"HTTPS://WWW.SRC"),
    pmod(srcIdx + 7, lit(20L)),
    lit(".CO.UK:443/q/\">second link</a> plus " +
      "<a href=\"/relative/path\">internal</a></body></html>"))

  private lazy val sqlLinkSynth: String =
    """'<html><body><p>See also</p><a href="http://src' ||
      |  (CAST(substring(source, 4) AS BIGINT) + 1 + doc_id % 3) % 20 ||
      |  '.com/p/' || doc_id % 10 ||
      |  '?utm_campaign=x&ref=feed">first</a> and ' ||
      |  '<a href="HTTPS://WWW.SRC' ||
      |  (CAST(substring(source, 4) AS BIGINT) + 7) % 20 ||
      |  '.CO.UK:443/q/">second link</a> plus ' ||
      |  '<a href="/relative/path">internal</a></body></html>'"""
      .stripMargin

  /** Per-source robots.txt body over a `source` column — see
    * doc_robots_gate's comment for what each line exercises. Both
    * groups carry an RFC 9309 §2.2.3 wildcard pair (`Disallow:
    * /articles/N*` plus an `Allow: /articles/NN$` end-anchored
    * rescue — the `$` rule misses the trailing-slash variants the
    * doc_id%9 rows produce), and the even-source group opens with
    * CONSECUTIVE `User-agent: altbot` / `User-agent: graftbot`
    * lines — the RFC 9309 §2.2.1 group-merge: both agents share the
    * directives, and the preceding Crawl-delay line must END the
    * `*` group's start-collection or the agents would fold into it.
    * Same concat both sides (the twin uses chr(10)).
    */
  private def robotsPayload: org.apache.spark.sql.Column = concat(
    lit("User-agent: *\nDisallow: /articles/1\nAllow: /articles/12\n" +
      "Disallow: /articles/4*\nAllow: /articles/44$\n" +
      "Crawl-delay: 5"),
    when(pmod(srcIdx, lit(2L)) === 0,
      lit("\nUser-agent: altbot\nUser-agent: graftbot\n" +
        "Disallow: /articles/2\n" +
        "Allow: /articles/23\nDisallow: /articles/3*\n" +
        "Allow: /articles/33$\nDisallow:")).otherwise(lit("")))

  private lazy val sqlRobotsSynth: String =
    "'User-agent: *' || chr(10) || 'Disallow: /articles/1' || " +
      "chr(10) || 'Allow: /articles/12' || chr(10) || " +
      "'Disallow: /articles/4*' || chr(10) || " +
      "'Allow: /articles/44$' || chr(10) || " +
      "'Crawl-delay: 5' || CASE WHEN " +
      "CAST(substring(source, 4) AS BIGINT) % 2 = 0 THEN chr(10) || " +
      "'User-agent: altbot' || chr(10) || " +
      "'User-agent: graftbot' || chr(10) || 'Disallow: /articles/2' " +
      "|| chr(10) || 'Allow: /articles/23' || chr(10) || " +
      "'Disallow: /articles/3*' || chr(10) || " +
      "'Allow: /articles/33$' || chr(10) || 'Disallow:' " +
      "ELSE '' END"

  /** DuckDB twin of [[graft.ops.UrlOps.robotsRules]] over an
    * `rb(host, txt)` CTE — emits `rules(host, agent, allow, prefix)`
    * with RFC 9309 group-merge: consecutive User-agent lines (among
    * recognized lines) share one block id, directives join every
    * agent of their block, pre-group directives and empty values
    * drop. Shared by every robots-replaying twin.
    */
  private lazy val sqlRobotsRulesCtes: String =
    s"""lns AS (SELECT host, string_split(txt, chr(10)) AS arr
       |  FROM rb),
       |ln AS (SELECT host, i AS line_idx, arr[i + 1] AS l
       |  FROM lns, unnest(range(0, len(arr))) AS t(i)),
       |pf AS (SELECT host, line_idx,
       |  lower(regexp_extract(l,
       |    '${graft.ops.UrlOps.RobotsLineRe}', 1)) AS field,
       |  trim(regexp_extract(l,
       |    '${graft.ops.UrlOps.RobotsLineRe}', 2)) AS value
       |  FROM ln),
       |prl AS (SELECT * FROM pf WHERE field <> ''),
       |stl AS (SELECT *, CASE WHEN field = 'user-agent'
       |    AND coalesce(lag(field) OVER
       |      (PARTITION BY host ORDER BY line_idx), '')
       |      <> 'user-agent'
       |  THEN 1 ELSE 0 END AS sflag FROM prl),
       |bk AS (SELECT *, sum(sflag) OVER (PARTITION BY host
       |  ORDER BY line_idx ROWS UNBOUNDED PRECEDING) AS blk
       |  FROM stl),
       |ags AS (SELECT host, blk, lower(value) AS agent FROM bk
       |  WHERE field = 'user-agent'),
       |rules AS (SELECT b.host, a.agent, b.field = 'allow' AS allow,
       |  b.value AS prefix
       |  FROM bk b JOIN ags a ON a.host = b.host AND a.blk = b.blk
       |  WHERE b.field IN ('allow', 'disallow') AND b.value <> ''
       |    AND b.blk > 0)""".stripMargin

  /** DuckDB twin of [[graft.ops.UrlOps.robotsVerdict]]'s per-rule
    * path match: plain values prefix-match, a value carrying `*` or
    * a trailing `$` is translated to the identical anchored RE2
    * (escape all metacharacters except `*`, `*` → `.*`, trailing
    * `$` → end anchor).
    */
  private def sqlRobotsHit(path: String, prefix: String): String =
    s"""CASE WHEN $prefix LIKE '%*%' OR $prefix LIKE '%$$'
       |  THEN regexp_matches($path, '^' || replace(regexp_replace(
       |      CASE WHEN $prefix LIKE '%$$'
       |        THEN substring($prefix, 1, length($prefix) - 1)
       |        ELSE $prefix END,
       |      '([\\\\^$$.|?+()\\[\\]{}])', '\\\\\\1', 'g'),
       |    '*', '.*') ||
       |    CASE WHEN $prefix LIKE '%$$' THEN '$$' ELSE '' END)
       |  ELSE starts_with($path, $prefix) END""".stripMargin

  // ---------------------------------------------------------------
  // Sentence segmentation + sentence-level (CCNet-style) dedup
  // ---------------------------------------------------------------

  /** Sentence-structured fixture: the corpus has no punctuation, so
    * the fixture cuts each text into three 40-char chunks with
    * distinct terminators, repeats the FIRST chunk on every 5th doc
    * (within-doc duplication), and appends one per-source subscribe
    * prompt plus one corpus-wide rights footer (cross-doc
    * boilerplate at two frequencies). Same concat both sides.
    */
  private def sentPayload: org.apache.spark.sql.Column = concat(
    substring(col("text"), 1, 40), lit(". "),
    substring(col("text"), 41, 40), lit("! "),
    when(col("doc_id") % 5 === 0,
        concat(substring(col("text"), 1, 40), lit(". ")))
      .otherwise(lit("")),
    substring(col("text"), 81, 40), lit("? "),
    lit("Subscribe to the "), col("source"),
    lit(" newsletter. All rights reserved."))

  private lazy val sqlSentSynth: String =
    """substr(text, 1, 40) || '. ' || substr(text, 41, 40) || '! ' ||
      |  CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 40) || '. '
      |    ELSE '' END ||
      |  substr(text, 81, 40) || '? ' ||
      |  'Subscribe to the ' || source ||
      |  ' newsletter. All rights reserved.'""".stripMargin

  /** DuckDB twin of Sentences.sentencesOf over a text expression. */
  private def sqlSentArr(x: String): String =
    s"list_filter(list_transform(regexp_split_to_array($x, " +
      s"'${graft.ops.Sentences.BoundaryRe}'), " +
      s"s -> trim(regexp_replace(s, '${graft.ops.Sentences.TrailRe}', " +
      s"''))), s -> length(s) > 0)"

  /** Corpus-duplicate floor for the boiler inventory / strip: the
    * per-source subscribe prompt (~corpus/20 docs) and the global
    * footer must clear it at every SF; organic 40-char chunks stay
    * far below. sf0.001 has 500 docs → 25/source.
    */
  private lazy val SentBoilerDocs = 10L
  private lazy val SentMinChars = 8

  /** Sentence-gate floor: above each parity batch's per-source
    * prompt frequency (~12 docs/source/batch at the 500-doc scales)
    * but below the two-batch cumulative (~25) — so the subscribe
    * prompts survive batch 0 and start stripping in batch 1, while
    * the corpus-wide footer strips in both. The cross-batch state is
    * what the oracle checks.
    */
  private lazy val SentGateDocs = 18L

  /** One sentence-gate state dir per (session, dataset): the e2e
    * query is side-effecting (two applyBatch runs), so bench reps
    * reuse the first run's state via [[TempState]].
    */
  private def sentGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("sentgate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val gate = new graft.streaming.SentenceGate(s, root,
          maxDocs = SentGateDocs)
        val docs = load(s, d, "documents")
          .withColumn("stext", sentPayload)
          .select(col("doc_id"), col("stext").as("text"))
        gate.applyBatch(docs.filter(col("doc_id") % 2 === 0), 0L)
        gate.applyBatch(docs.filter(col("doc_id") % 2 === 1), 1L)
    }

  private def sentenceQueries: Seq[QueryDef] = Seq(

    // Streaming sentence-frequency gate e2e (SentenceGate): two
    // parity micro-batches through the stateful CCNet gate — batch
    // 0 sees only its own frequencies (prompts at ~12/source pass
    // the 18-doc floor), batch 1 sees batch 0's standing counts
    // plus its own (prompts at ~25 cumulative strip), the footer
    // strips in both. The twin replays both batches with a
    // cumulative per-hash window — same portableHash, so even a
    // hash collision cannot diverge the two sides.
    QueryDef("doc_sentence_gate_e2e",
      s"""WITH st AS (SELECT doc_id, $sqlSentSynth AS stext
         |  FROM documents),
         |a AS (SELECT doc_id, doc_id % 2 AS batch,
         |  ${sqlSentArr("stext")} AS ss FROM st),
         |ix AS (SELECT doc_id, batch, ss, unnest(range(0, len(ss)))
         |  AS i FROM a),
         |ex AS (SELECT doc_id, batch, CAST(i AS BIGINT) AS pos,
         |  ss[i + 1] AS s, ${sqlPhash("ss[i + 1]")} AS h FROM ix),
         |cnt AS (SELECT batch, h,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
         |  FROM ex GROUP BY 1, 2),
         |fr AS (SELECT h, batch, sum(nd) OVER (PARTITION BY h
         |  ORDER BY batch) AS freq FROM cnt),
         |bo AS (SELECT h, batch FROM fr WHERE freq >= $SentGateDocs),
         |keep AS (SELECT e.doc_id, e.pos, e.s FROM ex e
         |  LEFT JOIN bo ON e.h = bo.h AND e.batch = bo.batch
         |  WHERE bo.h IS NULL),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(s, ' ' ORDER BY pos) AS text_kept
         |  FROM keep GROUP BY doc_id),
         |tot AS (SELECT doc_id, batch, CAST(len(ss) AS BIGINT) AS n_s
         |  FROM a)
         |SELECT t.doc_id, CAST(t.batch AS BIGINT) AS batch,
         |  t.n_s AS n_sentences, coalesce(g.n_kept, 0) AS n_kept,
         |  t.n_s - coalesce(g.n_kept, 0) AS n_dropped,
         |  coalesce(g.text_kept, '') AS text_kept
         |FROM tot t LEFT JOIN agg g USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = sentGateStateDir(s, d)
      new graft.streaming.SentenceGate(s, dir, maxDocs = SentGateDocs)
        .readVerdicts(1L)
        .orderBy("doc_id")
    },

    // Flesch-Kincaid readability (TextOps.readability) over the
    // sentence-structured fixture: words from the shared tokenizer,
    // sentences from the shared splitter, syllables as vowel-group
    // runs; fk_e3 NULL when undefined. Zero shuffles before the
    // output sort.
    QueryDef("doc_readability",
      s"""WITH st AS (SELECT doc_id, $sqlSentSynth AS stext
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(lower(stext),
         |    '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_words,
         |  CAST(len(${sqlSentArr("stext")}) AS BIGINT) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(stext), '[aeiouy]+'))
         |    AS BIGINT) AS n_syllables
         |  FROM st)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         |    CAST(round((0.39e0 * n_words / n_sentences +
         |      11.8e0 * n_syllables / n_words - 15.59e0) * 1000e0)
         |      AS BIGINT) END AS fk_e3
         |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.readability(
          load(s, d, "documents").withColumn("stext", sentPayload),
          col("doc_id"), col("stext"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Per-doc segmentation census (Sentences.stats): sentence count,
    // within-doc distinct ratio (the Gopher repetition signal at
    // sentence grain — every 5th doc repeats its first sentence) and
    // exact char tallies. Zero shuffles before the output sort.
    QueryDef("doc_sentence_stats",
      s"""WITH st AS (SELECT doc_id, $sqlSentSynth AS stext
         |  FROM documents),
         |a AS (SELECT doc_id, ${sqlSentArr("stext")} AS ss FROM st)
         |SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sentences,
         |  CAST(len(list_distinct(ss)) AS BIGINT) AS n_distinct,
         |  CAST((len(ss) - len(list_distinct(ss))) * 1000000
         |    // greatest(len(ss), 1) AS BIGINT) AS dup_ppm,
         |  CAST(coalesce(list_sum(list_transform(ss,
         |    s -> length(s))), 0) AS BIGINT) AS total_chars
         |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Sentences.stats(
          load(s, d, "documents").withColumn("stext", sentPayload),
          col("doc_id"), col("stext"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Corpus boilerplate inventory (Sentences.corpusDuplicates): the
    // sentences repeating across >= SentBoilerDocs distinct docs with
    // document and occurrence frequencies — the rights footer lands
    // corpus-wide, each subscribe prompt lands at ~corpus/20. Two
    // map-side-combined shuffles, output boiler-domain-sized.
    QueryDef("doc_sentence_boiler",
      s"""WITH st AS (SELECT doc_id, $sqlSentSynth AS stext
         |  FROM documents),
         |a AS (SELECT doc_id, ${sqlSentArr("stext")} AS ss FROM st),
         |ex AS (SELECT doc_id, unnest(ss) AS s FROM a),
         |f AS (SELECT doc_id, s FROM ex
         |  WHERE length(s) >= $SentMinChars),
         |po AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS occ
         |  FROM f GROUP BY doc_id, s)
         |SELECT s AS sentence, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(occ) AS BIGINT) AS n_occ
         |FROM po GROUP BY s HAVING count(*) >= $SentBoilerDocs
         |ORDER BY n_docs DESC, sentence""".stripMargin) { (s, d) =>
      graft.ops.Sentences.corpusDuplicates(
          load(s, d, "documents").withColumn("stext", sentPayload),
          col("doc_id"), col("stext"), SentMinChars, SentBoilerDocs)
        .orderBy(col("n_docs").desc, col("sentence"))
    },

    // CCNet sentence-level dedup (Sentences.stripBoilerplate): strip
    // every sentence reaching SentBoilerDocs distinct docs, rebuild
    // the survivors in original order — the footer and subscribe
    // prompts vanish from every doc, content chunks stay. The boiler
    // table is boiler-domain-sized, so its reconstruction join
    // broadcasts.
    QueryDef("doc_sentence_dedup",
      s"""WITH st AS (SELECT doc_id, $sqlSentSynth AS stext
         |  FROM documents),
         |a AS (SELECT doc_id, ${sqlSentArr("stext")} AS ss FROM st),
         |ix AS (SELECT doc_id, ss, unnest(range(0, len(ss))) AS i
         |  FROM a),
         |ex AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |  ss[i + 1] AS s FROM ix),
         |cnt AS (SELECT s, count(DISTINCT doc_id) AS nd FROM ex
         |  GROUP BY s),
         |keep AS (SELECT e.doc_id, e.pos, e.s FROM ex e
         |  JOIN cnt c USING (s) WHERE c.nd < $SentBoilerDocs),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(s, ' ' ORDER BY pos) AS text_kept
         |  FROM keep GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_s FROM a)
         |SELECT t.doc_id, coalesce(g.text_kept, '') AS text_kept,
         |  coalesce(g.n_kept, 0) AS n_kept,
         |  t.n_s - coalesce(g.n_kept, 0) AS n_dropped
         |FROM tot t LEFT JOIN agg g USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Sentences.stripBoilerplate(
          load(s, d, "documents").withColumn("stext", sentPayload),
          col("doc_id"), col("stext"), SentBoilerDocs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    })

  // ---------------------------------------------------------------
  // Token-budget waterfilling (data mixing with per-source caps)
  // ---------------------------------------------------------------

  private def budgetQueries: Seq[QueryDef] = Seq(

    // Capped proportional budget allocation
    // (PipelineOps.budgetAllocate): per-source BPE-ish token masses
    // are the weights, caps rotate 50/75/100% of each source's own
    // mass by source index (scale-free, so every SF exercises a
    // mixed capped/uncapped waterline), and the budget is 70% of the
    // corpus. The twin replays the ENTIRE closed-form waterfill —
    // ratio-sorted running sums, HUGEINT cross-multiplied capped
    // predicate, floor shares, largest-remainder +1s — so a single
    // misallocated token anywhere breaks the hash. Window passes run
    // over the O(sources) stratum frame only.
    QueryDef("doc_token_budget",
      """WITH tok AS (SELECT source, CAST(sum(len(regexp_extract_all(
        |    lower(text), '[a-z]+|[0-9]+'))) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |s AS (SELECT source AS stratum, w,
        |  (w * (2 + CAST(substring(source, 4) AS BIGINT) % 3)) // 4
        |    AS cap FROM tok),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt,
        |  CAST((sum(w) * 7) // 10 AS BIGINT) AS b FROM s),
        |so AS (SELECT s1.*, (SELECT count(*) FROM s s2
        |    WHERE CAST(s2.cap AS HUGEINT) * s1.w
        |        < CAST(s1.cap AS HUGEINT) * s2.w
        |      OR (CAST(s2.cap AS HUGEINT) * s1.w
        |          = CAST(s1.cap AS HUGEINT) * s2.w
        |        AND s2.stratum < s1.stratum)) AS ordn FROM s s1),
        |o AS (SELECT so.*, t.wt, t.b,
        |  sum(w) OVER rw AS cumw, sum(cap) OVER rw AS cumc
        |  FROM so, t
        |  WINDOW rw AS (ORDER BY ordn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT *, CAST(cap AS HUGEINT) * (wt - cumw)
        |    <= CAST(w AS HUGEINT) * (b - cumc) AS capped FROM o),
        |f AS (SELECT *,
        |  b - sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
        |    AS resid,
        |  wt - sum(CASE WHEN capped THEN w ELSE 0 END) OVER ()
        |    AS wp FROM c),
        |g AS (SELECT *,
        |  CASE WHEN capped THEN cap
        |    ELSE CAST((CAST(w AS HUGEINT) * resid) // wp AS BIGINT)
        |    END AS base,
        |  CASE WHEN capped THEN CAST(-1 AS HUGEINT)
        |    ELSE (CAST(w AS HUGEINT) * resid) % wp END AS frac
        |  FROM f),
        |h AS (SELECT *,
        |  resid - sum(CASE WHEN capped THEN 0 ELSE base END) OVER ()
        |    AS rem,
        |  row_number() OVER (ORDER BY frac DESC, stratum) AS rk
        |  FROM g)
        |SELECT stratum, w, cap,
        |  CAST(CASE WHEN capped THEN cap
        |    ELSE base + CASE WHEN rk <= rem THEN 1 ELSE 0 END
        |    END AS BIGINT) AS alloc, capped
        |FROM h ORDER BY stratum""".stripMargin) { (s, d) =>
      val strata = load(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(TextOps.tokenEstimate(col("text"))).as("w"))
        .withColumn("cap", call_function("div",
          col("w") * (lit(2L) + pmod(srcIdx, lit(3L))), lit(4L)))
      val wTot = strata.agg(sum(col("w"))).head().getLong(0)
      graft.ops.PipelineOps.budgetAllocate(strata, col("source"),
          col("w"), col("cap"), wTot * 7L / 10L)
        .orderBy("stratum")
    })

  /** Score-gate state: NB-scored docs split crawl-generation-wise —
    * src0–src9 pins the reference bands, src10–src19 arrives as two
    * doc-parity micro-batches.
    */
  private def scoreGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    TempState.dir("scoregate|" + s.sparkContext.applicationId + "|" + d) {
      root =>
        val mon = new graft.streaming.DriftMonitor(s, root,
          ScoreDriftBins, DriftHotPsiE9)
        val scored = nbScored(s, d).join(
          load(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        val isRef = expr("cast(substring(source, 4) as bigint) < 10")
        mon.setScoreReference(scored.filter(isRef), col("score_e6"))
        val cand = scored.filter(!isRef)
        mon.applyScoreBatch(cand.filter(col("doc_id") % 2 === 0),
          col("score_e6"), 0L)
        mon.applyScoreBatch(cand.filter(col("doc_id") % 2 === 1),
          col("score_e6"), 1L)
    }

  /** One trained merge table per (session, dataset) — training is
    * deterministic, so memoizing only saves the word-frequency job on
    * bench repetitions.
    */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Bpe.Merge]]()
  private def bpeMergesFor(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[graft.ops.Bpe.Merge] =
    bpeCache.computeIfAbsent(s.sparkContext.applicationId + "|" + d,
      _ => graft.ops.Bpe.trainFromCorpus(
        load(s, d, "documents"), col("text"), BpeMerges))

  /** The unrolled-CTE training prefix shared by both BPE twins:
    * `toks` = (doc_id, word); `w{t}` = word → delimited symbol string
    * after t merges; `b{t}` = the t-th winning pair as the string
    * `a)(b` (whose lexicographic order equals (a, b) tuple order —
    * `)` sorts below the [a-z0-9] alphabet). Ends with a trailing
    * comma so callers append their own CTEs.
    */
  private def bpeTrainCtes(n: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |w0 AS (SELECT w, cnt,
        |  regexp_replace(w, '(.)', '(\1)', 'g') AS sym FROM wf),
        |""".stripMargin)
    // MATERIALIZED is load-bearing: each w{t+1} references w{t} (and
    // b{t} twice); inlined CTEs would re-expand the whole training
    // chain exponentially in the iteration count
    for (t <- 0 until n) {
      sb.append(
        s"""p$t AS MATERIALIZED (SELECT p, sum(cnt) AS c FROM (
           |  SELECT cnt, unnest(list_transform(range(1, len(arr)),
           |    i -> arr[i] || ')(' || arr[i + 1])) AS p
           |  FROM (SELECT cnt, string_split(sym[2:-2], ')(') AS arr
           |        FROM w$t)) GROUP BY p),
           |b$t AS MATERIALIZED (SELECT p FROM p$t ORDER BY c DESC, p LIMIT 1),
           |w${t + 1} AS MATERIALIZED (SELECT w, cnt, replace(sym,
           |  '(' || (SELECT p FROM b$t) || ')',
           |  '(' || replace((SELECT p FROM b$t), ')(', '') || ')') AS sym
           |  FROM w$t),
           |""".stripMargin)
    }
    sb.toString
  }
}
