package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines. All pure
  * column expressions (codegen'd, no UDFs) — at 100 TB these run
  * embarrassingly parallel over the document scan with no shuffle.
  */
object TextOps {

  /** Unigram surprisal — the LM-perplexity proxy web pipelines use to
    * bucket documents by "language-model probability" without a
    * model: the corpus's own unigram distribution prices each token
    * at −ln(count/total), and a document's mean token cost ranks it
    * (high mean = improbable tokens = what a perplexity filter
    * drops). Per-token costs are quantized ONCE per DISTINCT token to
    * integer micro-nats, so per-document totals are exact integer
    * sums — engine-reproducible however the additions associate
    * (the transcendental is evaluated only O(|vocab|) times).
    *
    * Scale shape: one vocabulary aggregation (map-side combined), the
    * priced vocabulary broadcast back over the token stream, one
    * doc-id re-aggregation; documents with zero tokens survive with
    * zero cost. Returns (id, n_toks, cost_e6, mean_cost_e6).
    */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val docs = df.select(id.as("__id"), text.as("__text"))
    val toks = docs.select(col("__id"),
      explode(tokens(col("__text"))).as("tok"))
    // cut eagerly (Materialize.cut): the totals action and the priced
    // broadcast build both read it — one tokenize pass instead of two
    // (§1.2) — and no cache entry outlives the call
    val vocab = Materialize.cut(
      toks.groupBy("tok").agg(count(lit(1)).as("cnt")))
    val total = vocab.agg(sum(col("cnt"))).head().getLong(0)
    val priced = vocab.withColumn("cost_e6",
      round(-log(col("cnt").cast("double") / total.toDouble) * 1000000d, 0)
        .cast("long"))
    val perDoc = toks.join(broadcast(priced), "tok")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_toks"), sum(col("cost_e6")).as("cost_e6"))
    docs.select(col("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("cost_e6"), lit(0L)).as("cost_e6"))
      .withColumn("mean_cost_e6",
        when(col("n_toks") > 0,
          col("cost_e6").cast("double") / col("n_toks").cast("double"))
          .otherwise(lit(0.0d)))
  }

  /** Bigram surprisal — the conditional-probability refinement of
    * [[unigramSurprisal]]: the first token of a document is priced by
    * the corpus unigram distribution (−ln c(w)/total) and every later
    * token by the bigram conditional (−ln c(prev,w)/Σ_x c(prev,x) —
    * prefix-normalized, so every cost is a true −ln of a probability
    * and per-document totals are valid chain-rule log-likelihoods
    * under the bigram LM). Same exactness convention: each
    * transcendental is quantized ONCE per DISTINCT (uni|bi)gram to
    * integer micro-nats, so per-document sums are exact integers on
    * both engines. High mean cost = improbable transitions = what a
    * perplexity filter drops; unlike the unigram form this catches
    * scrambled word order, not just rare words.
    *
    * Scale shape: one bigram aggregation (map-side combined; the
    * prefix totals are a second, strictly smaller aggregation over
    * its OUTPUT, not a second corpus pass), priced tables joined back
    * over the bigram stream on their keys, one doc-id re-aggregation.
    * Returns (id, n_toks, cost_e6, mean_cost_e6) — every input doc
    * present, zero-token docs at zero cost.
    */
  def bigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val docs = df.select(id.as("__id"), tokens(text).as("__toks"))
    val toks = docs.select(col("__id"), explode(col("__toks")).as("tok"))
    // cut for the same reason as unigramSurprisal's vocab: the totals
    // action and the priced broadcast build share one pass
    val uni = Materialize.cut(
      toks.groupBy("tok").agg(count(lit(1)).as("cnt")))
    val total = uni.agg(sum(col("cnt"))).head().getLong(0)
    val pUni = uni.withColumn("u_cost_e6",
      round(-log(col("cnt").cast("double") / total.toDouble) * 1000000d, 0)
        .cast("long"))
      .select("tok", "u_cost_e6")
    // (prev, tok) pairs: zip the token array against its own tail
    val bis = docs.select(col("__id"),
        explode(zip_with(
          col("__toks"),
          slice(col("__toks"), lit(2),
            greatest(size(col("__toks")) - 1, lit(0))),
          (a, b) => struct(a.as("prev"), b.as("tok")))).as("bg"))
      .select(col("__id"), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
      .filter(col("tok").isNotNull) // the zip's padded tail position
    val big = bis.groupBy("prev", "tok").agg(count(lit(1)).as("bcnt"))
    val pref = big.groupBy("prev").agg(sum(col("bcnt")).as("pcnt"))
    val pBig = big.join(pref, "prev")
      .withColumn("b_cost_e6",
        round(-log(col("bcnt").cast("double") / col("pcnt").cast("double"))
          * 1000000d, 0).cast("long"))
      .select("prev", "tok", "b_cost_e6")
    val firstCost = docs
      .filter(size(col("__toks")) > 0)
      .select(col("__id"), element_at(col("__toks"), 1).as("tok"))
      .join(pUni, "tok")
      .select(col("__id"), col("u_cost_e6").as("c"))
    val biCost = bis.join(pBig, Seq("prev", "tok"))
      .select(col("__id"), col("b_cost_e6").as("c"))
    val perDoc = firstCost.unionByName(biCost)
      .groupBy("__id").agg(sum(col("c")).as("cost_e6"))
    docs.select(col("__id"), size(col("__toks")).cast("long").as("n_toks"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("id"), col("n_toks"),
        coalesce(col("cost_e6"), lit(0L)).as("cost_e6"))
      .withColumn("mean_cost_e6",
        when(col("n_toks") > 0,
          col("cost_e6").cast("double") / col("n_toks").cast("double"))
          .otherwise(lit(0.0d)))
  }

  /** English stopword sample used by quality scoring and language ID. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  /** Tokenize + basic stats. Adds: toks, n_tokens, n_distinct,
    * avg_token_len (exact int-ratio double).
    */
  def withTokenStats(df: DataFrame, text: Column): DataFrame =
    df.withColumn("toks", tokens(text))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("avg_token_len",
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
          .cast("double") / nullif(col("n_tokens").cast("double"), lit(0.0d)))

  /** Stopword ratio of a token array against a fixed set. */
  def stopwordRatio(toks: Column): Column = {
    val sw = array(EnStopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t))).cast("double") /
      nullif(size(toks).cast("double"), lit(0.0d))
  }

  /** Punctuation density: share of characters that are not
    * alphanumeric or whitespace. (Round 14 fix: the expression
    * previously returned the ALNUM share — `length −
    * len(symbols-only)` counts the kept characters, not the removed
    * ones. Round 15 fix: the keep-class was `[a-z0-9 ]` over
    * NON-lowercased text, so capitals, tabs and newlines counted as
    * symbols — ordinary mixed-case prose then tripped punctuation
    * gates and ALL-CAPS docs were always rejected. Both engines
    * shared each bug, so the oracle never saw either.)
    */
  def punctDensity(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9 \\t\\n]", ""))
      .cast("double") / nullif(length(text).cast("double"), lit(0.0d))

  /** Heuristic language ID: stopword-ratio thresholding (the n-gram
    * profile degenerates to this on the synthetic corpus; real corpora
    * would extend the marker sets per language).
    */
  def langId(toks: Column, threshold: Double = 0.02): Column =
    when(stopwordRatio(toks) > threshold, "en").otherwise("other")

  /** Whole-document fingerprint: portable polynomial rolling hash. */
  def fingerprint(text: Column): Column = portableHash(text)

  /** Token count with a BPE-ish refinement: maximal letter runs and
    * digit runs count separately (so "abc123" is 2 subword tokens).
    * Extraction-based (no lookarounds), so it is reproducible on
    * RE2-family engines too.
    */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+"), lit(0))).cast("long")

  /** Fraction of word w-shingle occurrences that are repeats of an
    * earlier occurrence within the same document: (n - distinct) / n.
    * Exact integer ratio (one IEEE division) so the SQL twin matches
    * bit-for-bit.
    */
  def dupShingleFrac(toks: Column, w: Int): Column = {
    val g = wordShingles(toks, w)
    (size(g) - size(array_distinct(g))).cast("double") /
      nullif(size(g).cast("double"), lit(0.0d))
  }

  /** Occurrence count of the single most frequent token, as a
    * run-length maximum folded over the SORTED token array — per-row
    * column math, no explode and no shuffle, unlike the natural
    * groupBy formulation (which the DuckDB twin uses; equal results,
    * different plans — the whole point at 100 TB).
    */
  def topTokenCount(toks: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    aggregate(
      array_sort(toks), zero,
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** The fixed alphabet character entropy is measured over: lowercase
    * letters, digits, space. Shared with the SQL twin by
    * interpolation so the two unrollings cannot drift.
    */
  val EntropyAlphabet: Seq[Char] =
    ('a' to 'z') ++ ('0' to '9') :+ ' '

  /** Character-distribution Shannon entropy — the cheap "is this
    * natural text" gate (near-zero entropy = one repeated character,
    * near-uniform = random noise; both are what a pre-filter drops
    * before any tokenizer runs). Measured over [[EntropyAlphabet]] on
    * the lowercased text; characters outside the alphabet are ignored.
    *
    * Engine-exactness: H = ln(N) − (Σ n_c·ln n_c)/N is computed from
    * INTEGER counts with each transcendental quantized once to
    * micro-nats (the unigram-surprisal convention), so the output
    * columns are integer sums plus one IEEE divide+subtract:
    * (id, n_alpha, nlogn_e6, ln_n_e6, entropy_e6) with
    * entropy_e6 = ln_n_e6 − nlogn_e6/n_alpha (micro-nats).
    *
    * Scale shape: ZERO shuffle — the 37 per-character counts unroll as
    * length/replace column expressions inside one codegen'd
    * projection, so the operator rides the document scan untouched;
    * nothing explodes, nothing aggregates. The natural per-character
    * explode+groupBy formulation (which the DuckDB twin deliberately
    * does NOT use either — it replays the same unrolling) would
    * shuffle one row per character of a 100 TB corpus.
    */
  def charEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("id"), lower(text).as("__t"))
    val counted = base.select(
      col("id") +: EntropyAlphabet.zipWithIndex.map { case (ch, i) =>
        (length(col("__t")) -
          length(replace(col("__t"), lit(ch.toString), lit(""))))
          .cast("long").as(s"__c_$i")
      }: _*)
    val cs = EntropyAlphabet.indices.map(i => col(s"__c_$i"))
    val nAlpha = cs.reduce(_ + _)
    val nlogn = cs.map { n =>
      when(n > 1L,
        round(n.cast("double") * log(n.cast("double")) * 1000000d, 0)
          .cast("long"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    counted
      .select(col("id"), nAlpha.as("n_alpha"), nlogn.as("nlogn_e6"))
      .withColumn("ln_n_e6",
        when(col("n_alpha") > 1L,
          round(log(col("n_alpha").cast("double")) * 1000000d, 0)
            .cast("long"))
          .otherwise(lit(0L)))
      .withColumn("entropy_e6",
        when(col("n_alpha") > 0L,
          col("ln_n_e6").cast("double") -
            col("nlogn_e6").cast("double") / col("n_alpha").cast("double"))
          .otherwise(lit(0.0d)))
  }

  /** Intra-document repetition metrics (Gopher-style repetition
    * filters): duplicate 2-/3-gram occurrence fractions and the share
    * of tokens taken by the most frequent token. Adds dup_2gram_frac,
    * dup_3gram_frac, top_token_frac. Scan-parallel.
    */
  /** [[gopherFlags]] default thresholds — named so the oracle twins
    * interpolate the SAME values (anti-drift by construction). Tuned
    * to split on the synthetic corpus: words 30..80 fires ~14%,
    * avg-len floor 4.3 chars ~7%, 3 distinct stopwords ~25%,
    * TTR < 70% ~20%, dup-bigrams and punctuation stay rare-but-live.
    */
  val GopherMinWords = 30L
  val GopherMaxWords = 80L
  val GopherMinAvgLenMilli = 4300L
  val GopherMaxAvgLenMilli = 10000L
  val GopherMaxPunctPct = 8L
  val GopherMinStopwords = 3L
  val GopherMaxDup2Pct = 25L
  val GopherMinTtrPct = 70L

  /** Gopher-style composite quality gate (Rae et al. 2021's
    * rule-filter family) with a REASON BITMASK — production curation
    * needs to know WHY documents drop, per rule, not just how many.
    * Every rule is EXACT-INTEGER (cross-multiplied thresholds, no
    * float ratios), so the DuckDB twin replays bit-identically:
    *
    *   bit 1  word count outside [minWords, maxWords]
    *   bit 2  mean word length outside the per-mille band
   *          [minAvgLenMilli, maxAvgLenMilli] (threshold in
   *          thousandths so a 4.3-char floor stays exact-integer)
    *   bit 4  symbol share above maxPunctPct% of characters
    *   bit 8  fewer than minStopwords distinct stopwords
    *   bit 16 duplicate-bigram share above maxDup2Pct% (needs >= 2
    *          words — a one-word doc carries no bigram evidence)
    *   bit 32 type-token ratio below minTtrPct%
    *
    * Returns (id, n_words, f_words, f_avglen, f_punct, f_stop,
    * f_dup2, f_ttr, reasons, kept). One scan, no shuffle.
    */
  def gopherFlags(df: DataFrame, id: Column, text: Column,
      minWords: Long = GopherMinWords, maxWords: Long = GopherMaxWords,
      minAvgLenMilli: Long = GopherMinAvgLenMilli,
      maxAvgLenMilli: Long = GopherMaxAvgLenMilli,
      maxPunctPct: Long = GopherMaxPunctPct,
      minStopwords: Long = GopherMinStopwords,
      maxDup2Pct: Long = GopherMaxDup2Pct,
      minTtrPct: Long = GopherMinTtrPct): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      "need 0 <= minWords <= maxWords")
    val sw = array(EnStopwords.map(lit): _*)
    val base = df.select(id.as("id"), text.as("__t"),
        tokens(text).as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("__chars", length(col("__t")).cast("long"))
      .withColumn("__wlen", aggregate(col("__w"), lit(0L),
        (a, t) => a + length(t).cast("long")))
      .withColumn("__sym",
        length(regexp_replace(col("__t"), "[a-zA-Z0-9 \\t\\n]", ""))
          .cast("long"))
      .withColumn("__nsw", size(array_distinct(
        filter(col("__w"), t => array_contains(sw, t)))).cast("long"))
      .withColumn("__big", when(col("n_words") >= 2,
          transform(sequence(lit(1), col("n_words") - 1),
            i => concat(element_at(col("__w"), i.cast("int")),
              lit(" "),
              element_at(col("__w"), (i + 1).cast("int")))))
        .otherwise(array().cast("array<string>")))
      .withColumn("__b2", size(col("__big")).cast("long"))
      .withColumn("__b2d", size(array_distinct(col("__big"))).cast("long"))
      .withColumn("__dist", size(array_distinct(col("__w"))).cast("long"))
    base
      .withColumn("f_words",
        col("n_words") < minWords || col("n_words") > maxWords)
      .withColumn("f_avglen",
        col("__wlen") * 1000L < lit(minAvgLenMilli) * col("n_words") ||
          col("__wlen") * 1000L > lit(maxAvgLenMilli) * col("n_words"))
      .withColumn("f_punct",
        col("__sym") * 100L > lit(maxPunctPct) * col("__chars"))
      .withColumn("f_stop", col("__nsw") < minStopwords)
      .withColumn("f_dup2", col("__b2") >= 1L &&
        (col("__b2") - col("__b2d")) * 100L >
          lit(maxDup2Pct) * col("__b2"))
      .withColumn("f_ttr",
        col("__dist") * 100L < lit(minTtrPct) * col("n_words"))
      .withColumn("reasons",
        when(col("f_words"), 1L).otherwise(0L) +
          when(col("f_avglen"), 2L).otherwise(0L) +
          when(col("f_punct"), 4L).otherwise(0L) +
          when(col("f_stop"), 8L).otherwise(0L) +
          when(col("f_dup2"), 16L).otherwise(0L) +
          when(col("f_ttr"), 32L).otherwise(0L))
      .withColumn("kept", col("reasons") === 0L)
      .select("id", "n_words", "f_words", "f_avglen", "f_punct",
        "f_stop", "f_dup2", "f_ttr", "reasons", "kept")
  }

  /** Flesch-Kincaid grade level as a quality feature: word count
    * from the shared tokenizer, sentence count from
    * [[Sentences.sentencesOf]], syllables approximated as vowel
    * GROUPS (`[aeiouy]+` runs — the standard shallow estimator;
    * word boundaries are non-letters, so whole-text runs equal the
    * per-word sum). `fk_e3` = round((0.39·W/S + 11.8·Y/W −
    * 15.59)·1000), NULL when a document has no words or no
    * sentences (a grade for nothing is not 0). One scan, no
    * shuffle. Returns (id, n_words, n_sentences, n_syllables,
    * fk_e3).
    */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
        size(tokens(text)).cast("long").as("n_words"),
        size(Sentences.sentencesOf(text)).cast("long")
          .as("n_sentences"),
        size(regexp_extract_all(lower(text), lit("[aeiouy]+"),
          lit(0))).cast("long").as("n_syllables"))
      .withColumn("fk_e3",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          round((lit(0.39d) * col("n_words") / col("n_sentences") +
            lit(11.8d) * col("n_syllables") / col("n_words") -
            lit(15.59d)) * lit(1000.0d), 0).cast("long")))

  def withRepetitionStats(df: DataFrame, text: Column): DataFrame = {
    val df2 = df.withColumn("__toks", tokens(text))
    df2.withColumn("dup_2gram_frac", dupShingleFrac(col("__toks"), 2))
      .withColumn("dup_3gram_frac", dupShingleFrac(col("__toks"), 3))
      .withColumn("top_token_frac",
        topTokenCount(col("__toks")).cast("double") /
          nullif(size(col("__toks")).cast("double"), lit(0.0d)))
      .drop("__toks")
  }

  /** Per-document TF-IDF top-k terms. The score is the exact rational
    * tf·N/df evaluated as one IEEE division (integer numerator stays
    * below 2⁵³ for any realistic tf·corpus product), so ranking is
    * engine-reproducible with a (score desc, term) tie-break. Plan:
    * explode → (doc,term) count (one shuffle; the per-(doc,term) rows
    * double as the distinct carrier, so document frequency is a plain
    * count over them — no count_distinct expand) → term-keyed join →
    * per-doc window for the top-k. `nDocs` arrives precomputed (the
    * caller usually already knows it; recounting would add a job).
    */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column, nDocs: Long,
      k: Int): DataFrame = {
    val tf = df.select(id.as("doc_id"), explode(tokens(text)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score",
        (col("tf") * lit(nDocs)).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  /** Boilerplate coverage (the line-dedup signal of CCNet/RefinedWeb
    * re-expressed over token spans, since this corpus has no line
    * structure): the fraction of a document's distinct w-token
    * shingles that are corpus-frequent (document frequency ≥ `minDf`).
    * A high fraction marks template/boilerplate text that near-dup
    * pair detection misses — no single pair is similar, but the
    * content is corpus-wide filler.
    *
    * Shape at scale: explode to (doc, shingle-hash) → one count
    * shuffle on the hash for document frequency (per-doc shingles are
    * distinct, so plain count IS df) → flag-join back on the same key
    * (no re-shuffle of the frequency side under co-partitioning) →
    * ONE per-doc aggregation yielding both counters. Never
    * materializes pairs; the frequency table is |distinct shingles|,
    * far below corpus size.
    *
    * Returns (doc_id, n_shingles, n_boiler, boiler_frac) — exact
    * integer counts and one IEEE division, engine-reproducible.
    */
  def boilerplateCoverage(df: DataFrame, id: Column, text: Column,
      w: Int, minDf: Long): DataFrame = {
    // BOTH counters come from ONE aggregation over the frequency-
    // flagged exploded frame: per-doc shingle hashes are distinct, so
    // the row count IS the shingle count and the flag sum IS the
    // boiler count — one groupBy(doc_id) shuffle instead of two, and
    // the tokenize+shingle+hash projection is evaluated only for the
    // df build and the probe (never a third time for sizes). The id
    // universe rejoins from a doc_id-only scan: zero-shingle docs
    // must still appear, with a null fraction.
    val sh = df.select(id.as("doc_id"),
        explode(Dedup.shingleHashes(tokens(text), w)).as("__h"))
    val frequent = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__h")
      .withColumn("__f", lit(1L))
    val counts = sh.join(frequent, Seq("__h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__f"), lit(0L))).as("n_boiler"))
    df.select(id.as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_boiler"))
      .withColumn("boiler_frac", col("n_boiler").cast("double") /
        nullif(col("n_shingles").cast("double"), lit(0.0d)))
  }

  /** Exact discrete quantiles of an integer-domain column per group,
    * by value histogram: the corpus collapses to (group × distinct
    * value) rows in one combiner-friendly shuffle, and the quantile
    * selection runs over that tiny table — never a per-group sort of
    * the data (the way window-rank percentiles would shuffle and sort
    * the full corpus into #groups partitions). Quantiles are exact
    * rationals num/den; the selected element is the smallest value
    * whose cumulative count reaches ⌈q·n⌉ — pure integer math, so any
    * engine agrees. Returns one row per group: n plus one `p_<name>`
    * column per quantile.
    */
  def discQuantiles(df: DataFrame, group: Column, value: Column,
      qs: Seq[(String, Int, Int)]): DataFrame =
    weightedQuantiles(df, group, value, lit(1L), qs)

  /** [[discQuantiles]] generalized to a per-row integer weight: the
    * selected element is the smallest value whose cumulative WEIGHT
    * reaches ⌈q·W⌉. With weight = bytes this answers the corpus-mass
    * question ("half the corpus bytes live in documents longer than
    * X") that the unweighted median cannot; the scale shape is
    * identical — one combiner-friendly (group × distinct value)
    * histogram shuffle, selection over the collapsed table, never a
    * per-group sort of the data.
    */
  def weightedQuantiles(df: DataFrame, group: Column, value: Column,
      weight: Column, qs: Seq[(String, Int, Int)]): DataFrame = {
    // nulls are excluded (the aggregate convention) — also keeps the
    // cumulative window deterministic across engines, whose null
    // orderings differ (Spark NULLS FIRST vs DuckDB NULLS LAST)
    val hist = df.filter(value.isNotNull && weight.isNotNull)
      .groupBy(group.as("grp"), value.as("v"))
      .agg(sum(weight.cast("long")).as("c"))
    val wCum = Window.partitionBy("grp").orderBy("v")
    val wAll = Window.partitionBy("grp")
    val cum = hist.withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
    val aggs = max("n").as("n") +: qs.map { case (name, num, den) =>
      min(when(col("cum") * den >= col("n") * num, col("v")))
        .as(s"p_$name")
    }
    cum.groupBy("grp").agg(aggs.head, aggs.tail: _*)
  }

  /** Range-blocked inverted index: posting lists sharded by doc-id
    * range (block k holds a term's postings for doc_ids in
    * [k·blockDocs, (k+1)·blockDocs)). The block key comes from the
    * doc id itself — scan-parallel, no per-term global sort — so a
    * head term never concentrates in one task the way a rank-windowed
    * build would; one (term, block) shuffle with map-side combine and
    * within-block postings sorted for determinism. This is the shape
    * a distributed index build actually writes (per-shard posting
    * blocks); a monolithic per-term posting row would be data-sized
    * for head terms.
    */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
      blockDocs: Long): DataFrame = {
    // div 0 would silently fold every posting into one NULL block —
    // the data-sized monolith this operator exists to avoid
    require(blockDocs > 0, "blockDocs must be positive")
    df.select(id.as("doc_id"),
        explode(array_distinct(tokens(text))).as("term"))
      .withColumn("block_id", expr(s"doc_id div $blockDocs"))
      .groupBy("term", "block_id")
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
  }

  /** Corpus-level n-gram heavy hitters (boilerplate detector): the
    * topK most frequent word w-shingles with occurrence and document
    * frequencies. One shuffle on the shingle (count_distinct carries
    * the doc_id set through the partial aggregate; at extreme scale
    * swap for approx_count_distinct) and a top-k sort over the
    * aggregated — already collapsed — key space.
    */
  def topNgrams(df: DataFrame, id: Column, text: Column, w: Int,
      topK: Int): DataFrame =
    df.select(id.as("__id"), tokens(text).as("__t"))
      .select(col("__id"), explode(wordShingles(col("__t"), w)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"), count_distinct(col("__id")).as("df"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(topK)

  /** Approximate-df variant of [[topNgrams]] — the extreme-scale form
    * the exact operator's comment promises. Document frequency is
    * estimated from a deterministic 1-in-`rate` hash sample of doc
    * ids (df_approx = rate · |distinct sampled ids|): the sample
    * condition is a pure function of the id, so the estimate is
    * reproducible across engines and runs — unlike an HLL sketch —
    * while the per-ngram distinct state shrinks by the sample rate
    * (the reason approximate counting exists at 100 TB; relative
    * error ~ 1/sqrt(df/rate) on the head terms that matter here).
    * Ranking stays on the EXACT occurrence count, so the emitted
    * top-k rows match [[topNgrams]].
    */
  def topNgramsApprox(df: DataFrame, id: Column, text: Column, w: Int,
      topK: Int, rate: Int): DataFrame = {
    require(rate > 0, "rate must be positive")
    df.select(id.as("__id"), tokens(text).as("__t"))
      .select(col("__id"), explode(wordShingles(col("__t"), w)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"),
        (count_distinct(when(
          pmod(sampleHash(col("__id").cast("string")), lit(rate.toLong)) === 0,
          col("__id"))) * rate).as("df_approx"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(topK)
  }

  /** Naive-Bayes log-odds scorer — the model-based quality/language
    * filter of CCNet-style curation (train a cheap linear classifier
    * on an in-corpus label, keep documents the model scores toward
    * the positive class), in closed form: no gradient iterations, so
    * the whole train+score is two aggregations and is exactly
    * reproducible across engines.
    *
    * Training is the Laplace-smoothed per-token log-likelihood ratio
    *   llr(w) = ln((c⁺(w)+1)/(T⁺+V)) − ln((c⁻(w)+1)/(T⁻+V))
    * (c± = token occurrences in positive/negative docs, T± their
    * totals, V the vocabulary size) quantized ONCE per DISTINCT token
    * to integer micro-nats; a document's score is the class prior
    * ln(N⁺/N⁻) (quantized the same way) plus the exact integer sum of
    * its tokens' llr — order-free, engine-reproducible. predicted =
    * score > 0, the MAP decision under the NB model.
    *
    * Scale shape: one vocabulary aggregation over the token stream
    * (map-side combined; the class split rides the same pass as two
    * conditional sums), one O(|vocab|) totals row + one O(1) prior
    * row, the priced vocabulary broadcast back over the token stream
    * (size-gate it behind a join at vocabularies beyond broadcast
    * reach, as with [[unigramSurprisal]]), one doc-id re-aggregation.
    * Docs with a NULL label still get scored (they just don't train).
    * Returns (id, n_toks, llr_e6, score_e6, predicted) — every input
    * doc present, token-free docs at prior-only score.
    */
  def naiveBayesLogOdds(df: DataFrame, id: Column, text: Column,
      positive: Column): DataFrame = {
    val docs = df.select(id.as("__id"), tokens(text).as("__toks"),
      positive.as("__pos"))
    val toks = docs.select(col("__id"), col("__pos"),
      explode(col("__toks")).as("tok"))
    // cut eagerly (Materialize.cut): the totals row below and the
    // priced-vocabulary broadcast build are BOTH consumers — without
    // the cut each one re-ran the whole tokenize+explode+vocab
    // aggregation, making the train side two full corpus passes
    // instead of one (§1.2 fewer passes; vocab is |vocabulary|-sized,
    // far smaller than the token stream) — and no cache entry
    // outlives the call
    val vocab = Materialize.cut(toks.groupBy("tok").agg(
      sum(when(col("__pos") === true, 1L).otherwise(0L)).as("cp"),
      sum(when(col("__pos") === false, 1L).otherwise(0L)).as("cn")))
    // vocabulary totals + class prior in ONE fused action (the
    // CdcEngine fused-aggregate pattern): the prior branch prunes to
    // a cheap label scan over the docs
    val totA = vocab.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"),
      count(lit(1)).as("v"))
    val priA = docs.agg(
      sum(when(col("__pos") === true, 1L).otherwise(0L)).as("np"),
      sum(when(col("__pos") === false, 1L).otherwise(0L)).as("nn"))
    val tT = org.apache.spark.sql.types.StructType(totA.schema.fields)
    val pT = org.apache.spark.sql.types.StructType(priA.schema.fields)
    val fusedRows = totA
      .select(struct(col("*")).as("t"), lit(null).cast(pT).as("p"))
      .unionByName(priA.select(lit(null).cast(tT).as("t"),
        struct(col("*")).as("p")))
      .collect()
    var totP = 0L; var totN = 0L; var v = 0L
    var nPos = 0L; var nNeg = 0L
    fusedRows.foreach { r =>
      if (!r.isNullAt(0)) {
        val t = r.getStruct(0)
        totP = t.getLong(0); totN = t.getLong(1); v = t.getLong(2)
      } else {
        val p = r.getStruct(1)
        nPos = p.getLong(0); nNeg = p.getLong(1)
      }
    }
    require(nPos > 0 && nNeg > 0,
      "naiveBayesLogOdds needs at least one doc per class")
    val priorE6 =
      math.round(math.log(nPos.toDouble / nNeg.toDouble) * 1000000d)

    val priced = vocab.withColumn("llr_e6",
      round((log((col("cp") + lit(1.0d)) / lit((totP + v).toDouble)) -
        log((col("cn") + lit(1.0d)) / lit((totN + v).toDouble))) * 1000000d, 0)
        .cast("long"))
      .select("tok", "llr_e6")
    val perDoc = toks.join(broadcast(priced), "tok")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_toks"), sum(col("llr_e6")).as("llr_e6"))
    docs.select(col("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("llr_e6"), lit(0L)).as("llr_e6"))
      .withColumn("score_e6", col("llr_e6") + lit(priorE6))
      .withColumn("predicted", col("score_e6") > 0L)
  }

  /** BM25 retrieval scoring (Robertson & Walker; the Lucene-form idf):
    * ranks the corpus against a fixed term query — the retrieval
    * primitive behind keyword-based decontamination sweeps and
    * targeted corpus audits ("show me the docs about X").
    *
    *   score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Engine-exactness: idf is quantized to micro-units once per query
    * term; the tf-saturation factor is pure rational IEEE arithmetic
    * (identical literal order on both engines); the per-(doc,term)
    * weight quantizes once more and document scores are exact integer
    * sums — the surprisal-family contract.
    *
    * Shape at scale: the exploded scan filters to the query's terms
    * BEFORE any shuffle (a q-term query keeps O(matches), not the
    * corpus posting lists); df/idf is an O(q)-row broadcast; top-k is
    * Spark's TakeOrdered (per-partition partial top-k, never a global
    * sort). Returns (doc_id, n_hit, score_e6, rank) for the top `topK`
    * docs, ties broken by ascending id.
    */
  def bm25TopK(df: DataFrame, id: Column, text: Column,
      queryTerms: Seq[String], k1: Double, b: Double,
      topK: Int): DataFrame = {
    val scored = bm25Scores(df, id, text, queryTerms, k1, b)
    val ranked = scored.orderBy(col("score_e6").desc, col("doc_id"))
      .limit(topK)
    val w = Window.orderBy(col("score_e6").desc, col("doc_id"))
    // the rank window runs over the already-limited topK rows only
    ranked.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** [[bm25TopK]]'s full candidate set — every matched document with
    * its hit count and score, unranked and untruncated. The seam a
    * grader ([[Eval.ndcgAtK]]) or a rank-fusion step consumes when it
    * needs the whole pool, not just the top-k.
    * Returns (doc_id, n_hit, score_e6).
    */
  def bm25Scores(df: DataFrame, id: Column, text: Column,
      queryTerms: Seq[String], k1: Double, b: Double): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores needs at least one query term")
    val docs = df.select(id.as("doc_id"), tokens(text).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val st = docs.agg(count(lit(1)), sum("__dl")).head()
    val (n, sumDl) = (st.getLong(0), st.getLong(1))
    require(n > 0, "bm25Scores needs a non-empty corpus")
    val avgdl = sumDl.toDouble / n.toDouble
    // the matched posting list materializes ONCE (eager
    // Materialize.cut): both its consumers — the O(terms) df
    // aggregate and the scoring join — read the checkpointed blocks,
    // so the corpus tokenize+explode never runs twice
    val tf = Materialize.cut(docs
      .select(col("doc_id"), col("__dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "__dl", "term").agg(count(lit(1)).as("tf")))
    val idf = idfLiteral(df.sparkSession,
      tf.groupBy("term").agg(count(lit(1)).as("df")).collect(), n)
    tf.join(broadcast(idf), "term")
      .withColumn("w_e6",
        round(col("idf_e6").cast("double") *
          (col("tf") * lit(k1 + 1.0d)) /
          (col("tf") + lit(k1) * (lit(1.0d - b) +
            lit(b) * col("__dl") / lit(avgdl))), 0).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("w_e6").as("score_e6"))
  }

  /** [[bm25TopK]] over a query TABLE — the retrieval sweep a
    * decontamination or audit pipeline runs: top-`topK` documents per
    * query, for `queries` = (query_id, term) rows, in ONE pass over
    * the corpus.
    *
    * Scoring is identical to [[bm25TopK]] (same idf quantization,
    * same tf saturation, df computed over the union of all query
    * terms — df is a corpus property, query-independent).
    *
    * Shape at scale: the exploded corpus scan filters against the
    * broadcast term set BEFORE any shuffle, so posting lists are
    * built once for the union of query terms — never re-scanned per
    * query; the per-query fan-out is a broadcast join of the
    * O(Σ query terms) table; the ONE corpus-sized shuffle is the
    * score aggregation keyed (query_id, doc_id). Per-query top-k
    * rides `graft_topk`'s map-side partial combine (each map task
    * emits ≤ k rows per query), with `n_hit` packed into the low 20
    * bits of the comparison id so no second corpus pass re-derives
    * it — the pack preserves the (score desc, doc_id asc) tie order
    * because doc_id occupies the high bits.
    *
    * Returns (query_id, doc_id, n_hit, score_e6, rank), rank 1-based
    * per query. Requires 0 <= doc_id < 2^43 and < 2^20 terms per
    * query (the packing headroom — loud requires, not silent caps).
    */
  def bm25TopKPerQuery(df: DataFrame, id: Column, text: Column,
      queries: DataFrame, k1: Double, b: Double, topK: Int): DataFrame = {
    import graft.functions.TopKPairsAgg.topkPairs
    require(topK >= 1, s"need topK >= 1, got $topK")
    val scored = bm25ScoresPerQuery(df, id, text, queries, k1, b)
    scored.groupBy("query_id")
      .agg(topkPairs(col("score_e6"),
        shiftleft(col("doc_id"), 20) + col("n_hit"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        shiftright(col("col.id"), 20).as("doc_id"),
        (col("col.id") % lit(1048576L)).as("n_hit"),
        col("col.ord").as("score_e6"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** [[bm25TopKPerQuery]]'s full per-query candidate pool — every
    * (query, matched document) with its hit count and score, unranked
    * and untruncated; the seam a per-query grader
    * ([[Eval.ndcgAtKBy]]) consumes.
    * Returns (query_id, doc_id, n_hit, score_e6).
    */
  def bm25ScoresPerQuery(df: DataFrame, id: Column, text: Column,
      queries: DataFrame, k1: Double, b: Double): DataFrame = {
    val qterms = queries.select(
      col("query_id").cast("long").as("query_id"),
      col("term").cast("string").as("term")).distinct()
    val qs = qterms.groupBy("query_id").agg(count(lit(1)).as("__nt"))
      .agg(count(lit(1)), max("__nt")).head()
    require(qs.getLong(0) > 0,
      "bm25ScoresPerQuery needs at least one query")
    require(qs.getLong(1) < (1L << 20),
      s"bm25ScoresPerQuery: a query with ${qs.getLong(1)} terms " +
        "exceeds the 2^20 n_hit packing headroom")
    val docs = df.select(id.cast("long").as("doc_id"),
      tokens(text).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val st = docs.agg(count(lit(1)), sum("__dl"),
      min("doc_id"), max("doc_id")).head()
    val n = st.getLong(0)
    require(n > 0, "bm25ScoresPerQuery needs a non-empty corpus")
    require(st.getLong(2) >= 0L && st.getLong(3) < (1L << 43),
      "bm25ScoresPerQuery needs 0 <= doc_id < 2^43 (packing headroom)")
    val avgdl = st.getLong(1).toDouble / n.toDouble
    val terms = qterms.select("term").distinct()
    // as in [[bm25TopK]]: the posting list over the UNION of query
    // terms materializes once; df and scoring both read it back
    val tf = Materialize.cut(docs
      .select(col("doc_id"), col("__dl"), explode(col("__toks")).as("term"))
      .join(broadcast(terms), "term")
      .groupBy("doc_id", "__dl", "term").agg(count(lit(1)).as("tf")))
    val idf = idfLiteral(df.sparkSession,
      tf.groupBy("term").agg(count(lit(1)).as("df")).collect(), n)
    tf.join(broadcast(idf), "term")
      .withColumn("w_e6",
        round(col("idf_e6").cast("double") *
          (col("tf") * lit(k1 + 1.0d)) /
          (col("tf") + lit(k1) * (lit(1.0d - b) +
            lit(b) * col("__dl") / lit(avgdl))), 0).cast("long"))
      .join(broadcast(qterms), "term")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("w_e6").as("score_e6"))
  }

  /** The BM25 idf table as a LITERAL frame from collected
    * (term, df) rows — O(query terms), so the driver round-trip is
    * free, and the broadcast side carries no corpus lineage. The
    * quantization re-states the SAME Spark column arithmetic the
    * inline form used (one ln, one multiply, one HALF_UP round), so
    * values are bit-identical.
    */
  private def idfLiteral(spark: org.apache.spark.sql.SparkSession,
      dfreq: Array[org.apache.spark.sql.Row], n: Long): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(dfreq: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("df",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .withColumn("idf_e6",
        round(log(lit(1.0d) + (lit(n.toDouble) - col("df") + lit(0.5d)) /
          (col("df") + lit(0.5d))) * 1000000d, 0).cast("long"))
      .select("term", "idf_e6")

  /** DSIR-style importance weights over hashed n-gram features
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): each document's unigrams+bigrams hash
    * into `buckets` feature buckets; a target subset (the in-domain
    * proxy) and the raw corpus each induce a smoothed multinomial
    * over buckets, and a document's log importance weight is the
    * exact integer sum of its grams' per-bucket log-likelihood ratios
    * (micro-nats, quantized once per bucket).
    *
    * Feature hashing is the scale move the NB scorer doesn't make:
    * the priced table is O(buckets) — fixed, tiny, broadcastable —
    * independent of vocabulary size, which is what survives a 100 TB
    * corpus whose raw vocab would itself be TB-scale.
    *
    * ONE corpus scan prices everything: the narrow
    * (doc_id, is_target, bucket) gram projection is pinned once and
    * feeds all three consumers — the bucket-count totals, the priced
    * LLR table (collected to O(buckets) rows, so the broadcast side
    * carries NO corpus lineage), and the per-doc weight join. The
    * returned frame is materialized eagerly through
    * [[Materialize.cut]] before the pin is released: downstream
    * consumers (a selection threshold descent, the final write)
    * re-read materialized blocks, never the tokenize+explode. The
    * route is deployment-selected (`spark.graft.materialize`: local
    * blocks for speed, a reliable checkpoint dir or staged parquet
    * for executor-loss resilience under dynamic allocation); the
    * lineage shape (one scan, literal priced table) is identical on
    * every route.
    *
    * Returns (doc_id, n_grams, weight_e6) for every document (empty
    * docs keep weight 0).
    */
  def dsirWeights(df: DataFrame, id: Column, text: Column,
      target: Column, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val spark = df.sparkSession
    val docs = df.select(id.as("doc_id"), tokens(text).as("__toks"),
      target.as("__t"))
    // unigrams ++ bigrams ("a b"), the zip-against-tail idiom; the
    // gram STRING is projected away before the pin — only the hashed
    // bucket is ever stored or shuffled
    val grams = docs.select(col("doc_id"), col("__t"),
      explode(concat(col("__toks"),
        filter(zip_with(
          col("__toks"),
          slice(col("__toks"), lit(2),
            greatest(size(col("__toks")) - 1, lit(0))),
          (a, bb) => when(bb.isNotNull, concat_ws(" ", a, bb))),
          x => x.isNotNull))).as("gram"))
      .select(col("doc_id"), col("__t"),
        pmod(portableHash(col("gram")), lit(buckets.toLong)).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // consumer 1+2: one O(buckets) collect yields both the totals
      // and the raw counts; pricing re-states the SAME Spark column
      // arithmetic over a literal O(buckets) frame, so the broadcast
      // join below ships values identical to the former inline form
      // without re-deriving the corpus
      val cnt = grams.groupBy("bucket").agg(
        sum(when(col("__t") === true, 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr")).collect()
      val totT = cnt.map(_.getLong(1)).sum
      val totR = cnt.map(_.getLong(2)).sum
      require(totT > 0, "dsirWeights needs a non-empty target subset")
      val cntLit = spark.createDataFrame(
        java.util.Arrays.asList(cnt: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("ct",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cr",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val priced = cntLit.withColumn("llr_e6",
        round((log((col("ct") + lit(1.0d)) / lit((totT + buckets).toDouble)) -
          log((col("cr") + lit(1.0d)) / lit((totR + buckets).toDouble)))
          * 1000000d, 0).cast("long"))
        .select("bucket", "llr_e6")
      // consumer 3: the per-doc weight join reads the pinned grams;
      // the eager localCheckpoint materializes the result and cuts
      // the lineage before the finally releases the pin
      val perDoc = grams.join(broadcast(priced), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("llr_e6").as("weight_e6"))
      Materialize.cut(docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("weight_e6"), lit(0L)).as("weight_e6")))
    } finally grams.unpersist()
  }
}
