package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * codegen'd column expressions over the documents table — one narrow
  * pass per query, no shuffle, no UDFs.
  */
object TextAnalysis {

  /** Text canonicalization — lowercase, strip non-alphanumerics,
    * collapse whitespace — shared by `ta_normalize` and the
    * decontamination gram keys ([[CorpusOps.gramDigests]]): a
    * case-changed or re-whitespaced copy of a held-out document must
    * still hit the screen, so normalization and gram construction are
    * ONE definition.
    */
  private[graft] def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** DuckDB twin of [[normText]] (Java replace-all needs the 'g' flag
    * there), so every oracle canonicalizes exactly like the engine.
    */
  private[graft] def normTextSql(expr: String): String =
    s"trim(regexp_replace(regexp_replace(lower($expr), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Marker vocabularies for the n-gram/stopword language heuristic.
    * Deterministic, engine-agnostic; tie-break order en,es,de,fr,zh.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "value"),
    "de" -> Seq("join", "merge", "group"),
    "fr" -> Seq("filter", "sort", "order"),
    "zh" -> Seq("spark", "window", "stream"))

  private def markerCount(words: Column, ms: Seq[String]): Column =
    size(filter(words, w => array_contains(typedLit(ms), w)))

  /** Language ID by marker-word occurrence scoring (the classic n-gram
    * heuristic shape: score per language, argmax with deterministic ties).
    */
  private def langid(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val scores = Markers.map { case (l, ms) => markerCount(words, ms).as(s"s_$l") }
    val scored = Tables.documents(s, d)
      .select(Seq(col("doc_id"), col("lang")) ++ scores: _*)
    val langs = Markers.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
      val ge = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(ge, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred", pred)
      .withColumn("hit", (col("pred") === col("lang")).cast("int"))
  }

  private def langidOracle: String = {
    val scores = Markers.map { case (l, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> list_contains([$lst], w))) AS s_$l"
    }.mkString(",\n  ")
    val langs = Markers.map(_._1)
    val pred = langs.init.foldRight(s"'${langs.last}'") { (l, rest) =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"CASE WHEN $ge THEN '$l' ELSE $rest END"
    }
    s"""WITH scored AS (SELECT doc_id, lang,
       |  $scores
       |FROM documents)
       |SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
       |  $pred AS pred,
       |  CAST(($pred = lang) AS INT) AS hit
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: length/word-count/distinct-ratio/stopword-ratio —
    * the usual cheap heuristics for corpus filtering.
    */
  private def quality(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val stop = typedLit(Seq("the", "a", "and", "of", "to"))
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_m"),
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_distinct"),
      r6(size(array_distinct(words)).cast("double") / size(words)).as("ttr"),
      r6(aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") /
        size(words)).as("avg_word_len"),
      r6(size(filter(words, w => array_contains(stop, w))).cast("double") /
        size(words)).as("stop_ratio"))
  }

  /** Token counting: whitespace tokens and a regex token family (a
    * BPE-ish pre-tokenization: lowercase runs | digit runs).
    */
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"),
      size(array_distinct(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"),
        lit(0)))).as("re_vocab"))

  /** Document fingerprint: minimum md5 over 5-gram shingles (a
    * deterministic rolling-hash analog — near-identical docs collide
    * with probability ≈ their shingle Jaccard). Includes the fingerprint
    * group size, i.e., how many docs share the fingerprint.
    */
  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select(col("doc_id"),
        array_min(transform(Dedup.shingles(col("text"), 5), md5(_))).as("fingerprint"))
      .pinned() // reused by the group-size branch and the final join
    val grp = fp.groupBy("fingerprint").agg(count(lit(1)).as("n_docs"))
    fp.join(grp, Seq("fingerprint"))
      .select("doc_id", "fingerprint", "n_docs")
  }

  /** Word-distribution Shannon entropy per document — the information-
    * density quality signal (near-zero entropy = degenerate repetition;
    * the complement of [[repNgrams]]'s top-fraction heuristics). One
    * combiner-friendly (doc, token) count then a per-doc rollup:
    * H = log2(n) − Σ c·log2(c)/n, computed in that algebraic form on
    * both engines so float drift stays below the r6 rounding.
    */
  private def entropy(s: SparkSession, d: String): DataFrame = {
    val c = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    c.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      r6(log2(sum(col("c")).cast("double")) -
        sum(col("c").cast("double") * log2(col("c").cast("double"))) /
          sum(col("c"))).as("entropy"))
  }

  // Boilerplate detection knobs: bigram shingles whose within-source
  // document frequency is ≥ BoilerFrac (sources with ≥ BoilerMinDocs
  // docs only) are boilerplate — the C4-style repeated-fragment screen
  // at shingle granularity (the synthetic corpus has no line breaks, so
  // the unit is the shingle, not the line).
  private val BoilerFrac = 0.2
  private val BoilerMinDocs = 10

  /** Per-source boilerplate screen: distinct bigram shingles per doc,
    * within-source document frequency, shingles above [[BoilerFrac]]
    * flagged, per-doc boilerplate fraction + keep verdict.
    *
    * Plan shape (iterated twice — round 7 shipped a count window over
    * the exploded stream's (source, shingle) key, which is skew-unsafe:
    * a TRUE boilerplate shingle at corpus scale has df in the millions
    * within one source, and a window partition routes every occurrence
    * of it to ONE task — the exact straggler shape the SemDeDup block
    * split kills. This form has no per-key task whose size grows with
    * df):
    *
    *  1. the shingle transform runs ONCE — the exploded (doc, source,
    *     shingle) frame is pinned (the round-6 5.5s measurement of an
    *     agg+join form came from re-evaluating the transform three
    *     times, NOT from the join; `dd_span_coverage` pins the same
    *     way);
    *  2. document frequency is a map-side-combinable
    *     `groupBy(source, g).count()` — a hot shingle partial-counts in
    *     every task and ships one row per partition;
    *  3. the boilerplate SET (df/n_docs ≥ [[BoilerFrac]]) is bounded
    *     per source by construction: each boiler shingle needs df ≥
    *     BoilerFrac·n_docs, and a source has ≤ n_docs·s̄ occurrences
    *     total (s̄ = mean shingles/doc), so ≤ s̄/BoilerFrac boiler
    *     shingles — independent of n_docs. AQE sees the tiny agg
    *     output and broadcasts the probe join at runtime;
    *  4. the left join back to the pinned explode is 1:≤1 (the set is
    *     distinct on (source, g)) — no output blow-up on any key —
    *     and the verdict is a per-doc rollup.
    *
    * Rejected: broadcast per-source boilerplate arrays probed with
    * `array_intersect` over the un-exploded doc arrays (15.5s at sf0.1
    * — ProjectCollapse inlines the whole transform+distinct into EVERY
    * referencing expression, so it evaluates 4× per row inside one
    * scan). [[boilerplateWindowed]] is the retired window form, kept as
    * the reference this form is tested against.
    */
  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // denominator = docs that PRODUCE shingles (≥2 words), matching the
    // oracle's count(DISTINCT doc_id) over the shingle stream — a
    // sub-2-word doc must not deflate its source's df fractions. The
    // cheap split-size predicate is equivalent to size(shingles) >= 1
    // without re-evaluating the shingle transform.
    val nd = docs.filter(size(split(col("text"), " ")) >= 2)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val ex = docs
      .select(col("doc_id"), col("source"),
        explode(Dedup.shingles(col("text"), 2)).as("g"))
      .pinned()
    // shingles are distinct per doc, so the occurrence count = doc
    // frequency; the boiler set is bounded per source (see scaladoc).
    val boiler = ex.groupBy("source", "g").agg(count(lit(1)).as("df"))
      .join(broadcast(nd), "source")
      .filter(col("n_docs") >= BoilerMinDocs &&
        col("df").cast("double") / col("n_docs") >= BoilerFrac)
      .select(col("source"), col("g"), lit(1L).as("is_b"))
    ex.join(boiler, Seq("source", "g"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("is_b")).as("n_boiler"))
      .withColumn("boiler_frac",
        r6(col("n_boiler").cast("double") / col("n_shingles")))
      .withColumn("keep", (col("boiler_frac") <= 0.1).cast("int"))
  }

  /** The round-7 window-form boilerplate screen, kept ONLY as the
    * reference the shipped form is tested against: the (source, g)
    * count window routes every occurrence of a hot shingle into one
    * window partition — the single-task straggler the shipped
    * aggregate-join form removes. Not registered as a query.
    */
  private[graft] def boilerplateWindowed(s: SparkSession,
      d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nd = docs.filter(size(split(col("text"), " ")) >= 2)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val ex = docs
      .select(col("doc_id"), col("source"),
        explode(Dedup.shingles(col("text"), 2)).as("g"))
    val w = Window.partitionBy("source", "g")
    ex.join(broadcast(nd), "source")
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("is_b",
        (col("n_docs") >= BoilerMinDocs &&
          col("df").cast("double") / col("n_docs") >= BoilerFrac)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(col("is_b")).as("n_boiler"))
      .withColumn("boiler_frac",
        r6(col("n_boiler").cast("double") / col("n_shingles")))
      .withColumn("keep", (col("boiler_frac") <= 0.1).cast("int"))
  }

  /** Corpus vocabulary rollup: top-k tokens by frequency. The shuffle
    * carries per-partition partial counts (map-side combine), then a
    * TakeOrdered — the canonical combiner-friendly corpus statistic.
    */
  private def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20)

  /** Corpus Zipf fit: OLS slope/intercept of ln(frequency) on ln(rank)
    * over the top-1000 vocabulary head — the rank-frequency diagnostic a
    * corpus health check runs (natural text slopes near −1; a scraped
    * corpus dominated by templates or spam drifts far from it). The
    * head-only fit is the published convention AND the scale shape: the
    * top-k by frequency is a distributed TakeOrdered over the
    * map-side-combined token counts, so the only ordered frame is 1000
    * rows — ranking the FULL vocabulary would be a corpus-sized global
    * row_number. Ties rank deterministically ((n desc, token) on both
    * engines); regr_slope/regr_intercept are the same least-squares
    * moments in Spark and DuckDB, with r6 absorbing terminal ulp drift.
    */
  private def zipf(s: SparkSession, d: String): DataFrame = {
    val head = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(1000)
    head
      .withColumn("x", log(row_number().over(
        Window.orderBy(col("n").desc, col("token"))).cast("double")))
      .withColumn("y", log(col("n").cast("double")))
      .agg(r6(expr("regr_slope(y, x)")).as("zipf_slope"),
        r6(expr("regr_intercept(y, x)")).as("zipf_intercept"),
        count(lit(1)).as("n_head"))
  }

  /** Simpson diversity over the corpus vocabulary: D = Σnᵢ(nᵢ−1) /
    * (N(N−1)), the probability two tokens drawn without replacement are
    * the same type — the concentration twin of `ta_entropy` (a
    * template-flooded corpus shows D spiking while entropy sags). Runs
    * entirely on the token-count grid: one map-side-combinable count
    * per token, one global aggregate over the grid — no sort, no
    * window, no per-group buffering at any corpus size. `inv_simpson`
    * (1/D, the effective vocabulary size) is the operational dial.
    */
  private def simpson(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("vocab"), sum(col("n")).as("total"),
        sum(col("n") * (col("n") - 1)).as("ss"))
      .select(col("vocab"), col("total"),
        r6(col("ss") / (col("total") * (col("total") - 1)))
          .as("simpson"),
        r6((col("total") * (col("total") - 1)) / col("ss"))
          .as("inv_simpson"))

  /** Jensen–Shannon divergence between the English slice's unigram
    * distribution and the rest of the corpus — the distribution-drift
    * statistic a corpus monitor tracks across sources, snapshots, or
    * filter settings (JS is symmetric and bounded by ln 2, unlike raw
    * KL, and tolerates disjoint support). Runs on the (token, side)
    * count grid: one map-side-combinable aggregate pivots each token's
    * two counts in place (no join of two vocab tables), totals
    * broadcast as one row, and the per-token contributions sum in
    * DECIMAL so the answer is partition-order-independent. Zero-count
    * sides contribute zero to their KL term by construction.
    */
  private def jsDivergence(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select((col("lang") === "en").cast("int").as("is_en"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(sum(col("is_en")).as("np"),
        sum(lit(1) - col("is_en")).as("nq"))
    val tot = counts.agg(sum(col("np")).as("tp"), sum(col("nq")).as("tq"))
    val withP = counts.crossJoin(broadcast(tot))
      .select((col("np") / col("tp")).as("p"),
        (col("nq") / col("tq")).as("q"))
      .select(col("p"), col("q"), ((col("p") + col("q")) / 2).as("m"))
    val term = (x: Column) =>
      sum(when(x > 0, (x * log(x / col("m"))).cast("decimal(38,18)"))
        .otherwise(lit(0).cast("decimal(38,18)"))).cast("double")
    withP.agg(term(col("p")).as("klp"), term(col("q")).as("klq"))
      .select(r6((col("klp") + col("klq")) / 2).as("js_nats"),
        r6(((col("klp") + col("klq")) / 2) / log(lit(2.0))).as("js_bits"))
  }

  /** Composite curation pipeline: quality filter (length + type-token
    * ratio) then keep-first near-dup removal (drop every doc_b of a
    * jaccard pair) — the filter→dedup composition an LLM corpus pass
    * runs, as one declarative plan (filter, anti-join on the pair set).
    */
  /** The corpus quality gate (length + type-token ratio), shared by the
    * batch `pipe_curate` query, the streaming `curatedFirstSeen` twin,
    * and the corpus pipeline's curate stage — ONE definition so the
    * three paths cannot drift. Keeps all input columns.
    */
  private[graft] def qualityGate(df: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    df.filter(size(words) >= 30 &&
      size(array_distinct(words)).cast("double") / size(words) >= 0.3)
  }

  private def curate(s: SparkSession, d: String): DataFrame = {
    val q = qualityGate(Tables.documents(s, d))
    // Persisted: the tail set is tiny (distinct doc_b of near-dup pairs)
    // but its lineage is the whole candidate+verify pipeline — caching
    // here caps a cache-miss recompute at once per run, and CacheManager
    // dedups it with any other consumer of the same pair set.
    val dupTails = Dedup.ngramJaccard(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
      .pinned()
    q.join(dupTails, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  /** Unigram log-probability scoring: corpus token frequencies (one
    * combiner-friendly agg, broadcast as a dictionary) score each doc as
    * Σ log10(freq/total) — the cheap LM-style quality signal. The
    * dictionary is bounded by vocabulary size, so the per-doc pass stays
    * a broadcast join at any corpus scale.
    */
  private def unigramLogprob(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r6(sum(log10(col("cnt").cast("double") / col("total"))))
          .as("logprob"))
  }

  // Interpolation weight of the bigram-LM scorer: λ·P(w2|w1) +
  // (1-λ)·P(w2) — simple Jelinek-Mercer smoothing, enough backoff that
  // unseen-in-context words never zero a document's probability.
  private val BigramLambda = 0.9

  /** Interpolated bigram language-model scoring — the perplexity-filter
    * shape (CCNet-style) one LM-quality tier above [[unigramLogprob]]:
    * per document, the summed log10 of λ·c(w1,w2)/c(w1) +
    * (1-λ)·c(w2)/T over its adjacent token pairs. Scale shape: the
    * BIGRAM dictionary is corpus-sized, so it joins on its natural
    * (w1, w2) key (shuffle with map-side-combined counts — never
    * broadcast); the UNIGRAM dictionary is vocabulary-bounded and
    * broadcasts twice (context side, continuation side); the total is
    * one scalar. Documents shorter than two tokens have no bigrams and
    * are absent, as in the oracle.
    */
  private def bigramLogprob(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    // No spreadScan (r15, measured): the bigram stream feeds the c12
    // dictionary AND the scoring join, the token stream two broadcast
    // unigram dictionaries — the branches' jobs re-ran the repartition
    // and measured net +0.3s (1.20 → 1.39–1.65s across three runs).
    val base = Tables.documents(s, d)
    val docs = base.select(col("doc_id"), w.as("w"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val tok = base.select(explode(w).as("token"))
    val c1 = tok.groupBy("token").agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum(col("c1")).as("total"))
    val p = lit(BigramLambda) * col("c12") / col("ctx") +
      lit(1 - BigramLambda) * col("cw2") / col("total")
    bi.join(c12, Seq("w1", "w2"))
      .join(broadcast(c1.select(col("token").as("w1"),
        col("c1").as("ctx"))), "w1")
      .join(broadcast(c1.select(col("token").as("w2"),
        col("c1").as("cw2"))), "w2")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r6(sum(log10(p))).as("logprob"))
  }

  /** Gopher-style repetition ratios (Rae et al. 2021 §A1.1, the
    * duplicate-n-gram curation rules): per document, the fraction of
    * tokens claimed by the most frequent unigram and bigram and the
    * distinct-bigram ratio, plus the keep flag at the published
    * thresholds. Per-doc aggregates over exploded n-grams — shuffles on
    * doc_id only, no cross-document state, so it scales like any
    * grouped aggregation.
    */
  private def repNgrams(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    // Per-doc frequency statistics ([max run, distinct, total]) via the
    // native kernels — unigrams over the sorted token array, bigrams
    // paired and sorted INSIDE the kernel (repetition needs the
    // NON-distinct n-grams dedup's distinct shingles erase). The
    // composed explode→groupBy(doc, gram)→groupBy(doc) form shuffles
    // every n-gram twice, and a transform()-built bigram array runs an
    // interpreted lambda per element; this is one narrow scan, no
    // shuffle. The `when` keeps single-token docs at null like the
    // grouped form's left join did.
    val us = graft.functions.FreqFunctions.sortedFreqStats(array_sort(w))
    val bs = when(size(w) >= 2,
      graft.functions.FreqFunctions.bigramFreqStats(w))
    Tables.documents(s, d)
      .select(col("doc_id"), us.as("us"), bs.as("bs"))
      .select(col("doc_id"),
        r6(element_at(col("us"), 1).cast("double") /
          element_at(col("us"), 3)).as("top_uni_frac"),
        r6(element_at(col("bs"), 1).cast("double") /
          element_at(col("bs"), 3)).as("top_bi_frac"),
        r6(element_at(col("bs"), 2).cast("double") /
          element_at(col("bs"), 3)).as("uniq_bi_ratio"))
      .withColumn("keep",
        (col("top_uni_frac") <= 0.2 &&
          coalesce(col("top_bi_frac") <= 0.2, lit(true))).cast("int"))
  }

  /** Per-document top-3 TF-IDF terms: tf = in-doc frequency ratio,
    * idf = ln(N/df) from a document-frequency dictionary. The df
    * dictionary is a stats table bounded by the vocabulary — broadcast
    * to the term-frequency side, so the only shuffles are the two
    * grouped aggregations; the corpus-size N is a scalar literal
    * (one count job), never a per-row subquery.
    */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    // ONE tokenize pass (r16): the executed plan showed TWO serial
    // Generate(explode(split(text))) stages over the single-split scan —
    // the tf branch and the df branch each re-tokenized the corpus,
    // because their partial aggregates differ so exchange reuse cannot
    // dedupe the subtrees. The (doc_id, t, c) collapse is computed once
    // (spread, so the explode+partial run at shuffle parallelism) and
    // PINNED; the df dictionary is its groupBy(t) count — grid rows are
    // distinct (doc_id, t) by construction, so count(*) over the grid IS
    // the document frequency, same exact integers. (The r15 "no
    // spreadScan" note measured the RAW-stream spread/pin variants; this
    // pins the collapsed grid — ~4× fewer rows than the term stream.)
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val tg = spreadScan(docs, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .pinned() // consumed by the tf window and the df dictionary
    val tf = tg
      .withColumn("len", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val df = tg.groupBy("t").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "t")
      .withColumn("tfidf",
        r6(col("c").cast("double") / col("len") *
          log(lit(n.toDouble) / col("df"))))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("t"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("t").as("term"), col("tfidf"))
  }

  // ------------------------------------------------------------- BM25

  // Okapi BM25 constants — the Robertson et al. defaults Lucene ships
  // (k1 = 1.2, b = 0.75) with Lucene's always-positive idf variant.
  // K1 + 1 is its own literal: 1.2 + 1.0 in doubles is a round-to-even
  // TIE (exact sum lands halfway between neighbors), so deriving it
  // arithmetically risks disagreeing with the oracle's CAST(2.2 AS
  // DOUBLE); both engines parse the literal to the same canonical bits.
  private val Bm25K1 = 1.2
  private val Bm25K1Plus1 = 2.2
  private val Bm25B = 0.75
  private val Bm25TopK = 5

  /** The fixed retrieval query set: multi-term queries over the corpus
    * vocabulary — the RAG-retrieval shape (query text → top-k docs).
    * Shared verbatim with the oracle's VALUES list.
    */
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark window agg",
    2L -> "hash join table",
    3L -> "stream batch merge",
    4L -> "fast scan filter slow",
    5L -> "vector group sort")

  /** BM25 lexical retrieval: score every document against each query in
    * [[Bm25Queries]] and keep the top [[Bm25TopK]] per query — the
    * retrieval primitive a RAG/data-curation stack runs next to ANN.
    *
    * Scale shape: the token stream is semi-joined to the (tiny,
    * broadcast) query vocabulary BEFORE the tf aggregation, so only
    * postings of query terms ever shuffle — the corpus-wide dictionary
    * is never built. Per-query top-k goes through [[graft.functions.TopKAggregator]]
    * (bounded k-row partial buffers merge associatively), NOT a
    * row_number window that would shuffle and sort every scored row
    * into nqueries partitions. Per-term score contributions accumulate
    * in DECIMAL(38,18) (magnitudes are O(1), where 18 decimals keep the
    * terms exact) so the (query, doc) score is partition-order-free and
    * bit-identical to the oracle's.
    */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // spreadScan: tokenize+explode+semi-join otherwise run inside the
    // single-split documents scan on one core (r15 plan audit). The
    // stats head reads the UNspread scan — a separate driver action
    // that would otherwise pay the repartition for two scalar sums.
    val docs = spreadScan(Tables.documents(s, d), col("doc_id"))
    // Exact global doc count / avg doc length from integer sums: one
    // driver-side division, bit-identical to the oracle's.
    val st = Tables.documents(s, d).select(
      sum(size(split(col("text"), " ")).cast("long")).as("tot"),
      count(lit(1)).as("n")).head()
    val n = st.getLong(1)
    val avgdl = st.getLong(0).toDouble / n
    val q = Bm25Queries.toDF("query_id", "query_text")
    val qt = q.select(col("query_id"),
      explode(split(col("query_text"), " ")).as("t")).distinct()
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("double").as("dl"),
        explode(col("w")).as("t"))
      .join(broadcast(qt.select("t").distinct()), "t")
    // Postings of query terms only; pinned — both the df dictionary and
    // the scoring join consume it.
    val tf = toks.groupBy("doc_id", "t")
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))
      .pinned()
    val dfreq = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
    val contrib =
      log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        (col("tf") * lit(Bm25K1Plus1)) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / lit(avgdl)))
    val scored = tf.join(broadcast(dfreq), "t").join(broadcast(qt), "t")
      .groupBy("query_id", "doc_id")
      .agg(sum(contrib.cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double").as("score"))
    scored
      .select(col("query_id"), r6(col("score")).as("score"), col("doc_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(v => graft.functions.ScoredId(v._2, v._3))
      .agg(new graft.functions.TopKAggregator(Bm25TopK).toColumn)
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (r, i) => (qid, i + 1, r.id, r.score) }
      }
      .toDF("query_id", "rnk", "doc_id", "score")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("query_text"), col("rnk"),
        col("doc_id"), col("score"))
  }

  // -------------------------------------------------- PMI collocations

  // A bigram must occur at least this often to be scored — the standard
  // guard against PMI's low-count explosion (a hapax pair maximizes PMI).
  private val PmiMinCount = 5L

  /** Top-20 bigram collocations by pointwise mutual information:
    * pmi(x,y) = ln(P(x,y) / (P(x)·P(y))) with bigram probability over
    * the bigram stream and unigram probabilities over the token stream.
    *
    * Scale shape: one explode for unigram counts, one windowless
    * adjacent-pair explode for bigram counts (both map-side combined);
    * the unigram dictionary is vocabulary-bounded → broadcast to the
    * count-filtered bigram frame; the head is TakeOrdered(20), never a
    * global sort. Totals are exact integer sums; the probability
    * arithmetic is a fixed left-associated double expression shared
    * with the oracle.
    */
  private def pmi(s: SparkSession, d: String): DataFrame = {
    // No spreadScan (r15, measured): the tokenized frame feeds the
    // stats head, the unigram dictionary (broadcast twice) and the
    // bigram count — each branch's job re-ran the repartition and
    // measured net +0.4s (0.63 → 1.01–1.10s across three runs).
    val w0 = Tables.documents(s, d).select(split(col("text"), " ").as("w"))
    val st = w0.select(
      sum(size(col("w")).cast("long")).as("nt"),
      sum(greatest(size(col("w")) - 1, lit(0)).cast("long")).as("nb")).head()
    val nt = st.getLong(0).toDouble
    val nb = st.getLong(1).toDouble
    val uni = w0.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val bc = w0.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("x"),
          element_at(col("w"), i + 1).as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= PmiMinCount)
    bc
      .join(broadcast(uni.select(col("t").as("x"), col("c").as("cx"))), "x")
      .join(broadcast(uni.select(col("t").as("y"), col("c").as("cy"))), "y")
      .withColumn("pmi", r6(log(
        col("cxy").cast("double") * lit(nt) / col("cx").cast("double") *
          lit(nt) / col("cy").cast("double") / lit(nb))))
      .select(col("x"), col("y"), col("cxy"), col("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(20)
  }

  // Chunking geometry: 64-token windows advancing by 48 (16-token
  // overlap) — the context-window packing shape an LLM pre-training
  // pipeline runs over every document.
  private val ChunkLen = 64
  private val ChunkStride = 48

  /** Overlapping fixed-token chunking: each document becomes
    * ceil(max(n-overlap,1)/stride) chunks of up to [[ChunkLen]]
    * whitespace tokens starting every [[ChunkStride]] tokens. One narrow
    * generator per row (posexplode over the start sequence, slice +
    * array_join per chunk) — no shuffle, no cross-document state, so it
    * scales exactly like the scan. The final chunk may be short; every
    * token lands in ≥1 chunk and start positions are data-independent.
    */
  private def chunk(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"), posexplode(
        sequence(lit(0), greatest(size(col("w")) - 1, lit(0)), lit(ChunkStride)))
        .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkLen), size(col("w")) - col("start")).as("n_tokens"),
        array_join(slice(col("w"), col("start") + 1, lit(ChunkLen)), " ")
          .as("chunk_text"))
  }

  /** PII redaction: emails and phone-shaped tokens are scrubbed with
    * global regex replacement. The testdata corpus contains no PII, so
    * the query injects a deterministic contact line synthesized from
    * document metadata (the same ground-truth-by-construction standard
    * as f11_url) and then redacts it — the redaction regexes do real
    * work on every row and the oracle recomputes both the injection and
    * the scrub. Patterns stay in the Java∩RE2 common dialect so both
    * engines match identical spans. Pure codegen'd string expressions:
    * scan-shaped, no shuffle.
    */
  private def pii(s: SparkSession, d: String): DataFrame = {
    val EmailRe = "[a-z0-9._]+@[a-z0-9.]+"
    val PhoneRe = "555-[0-9]{4}"
    val withPii = concat(col("text"), lit(" contact "), col("source"),
      lit("_"), col("doc_id").cast("string"),
      lit("@mail.example.com or 555-"),
      lpad(col("doc_id").cast("string"), 4, "0"))
    val redacted = regexp_replace(
      regexp_replace(withPii, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    // spreadScan: four regex passes per row otherwise run inside the
    // single-split documents scan on one core (r15 plan audit).
    spreadScan(Tables.documents(s, d), col("doc_id")).select(
      col("doc_id"),
      size(regexp_extract_all(withPii, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(withPii, lit(PhoneRe), lit(0))).as("n_phones"),
      (length(withPii) - length(redacted)).as("removed_chars"),
      md5(redacted).as("redacted_hash"))
  }

  // Heavy-hitter sketch width for the corpus query. The pinned corpus
  // has a 31-token vocabulary, so k=40 > vocab makes the sketch
  // lossless (an MG property: with fewer distinct items than counters
  // nothing ever decrements); the guarantee UNDER PRESSURE
  // (vocab >> k) is spec-proved on synthetic Zipf data.
  private val HhK = 40

  /** Exact heavy hitters through a bounded-memory sketch: a Misra-Gries
    * pass (k counters per partition, mergeable, only ≤k-entry maps ever
    * shuffle) yields a candidate set guaranteed to contain every token
    * with frequency > total/k; the candidates — never the full
    * vocabulary — are then counted exactly and filtered on the true
    * threshold. Same architecture as dd_incremental's bloom: the sketch
    * shrinks the problem at bounded memory, the exact pass makes the
    * answer exact, so the query is oracle-checkable even though a
    * sketch sits in the middle. A full-vocabulary groupBy by contrast
    * shuffles one row per distinct token — unbounded on a 100 TB
    * corpus; this shuffles k-entry maps plus one bounded candidate
    * aggregation. Threshold compares in integers (n·k > total): no
    * float boundary to flip cross-engine.
    */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // No spreadScan here (r15, measured): the per-call persist already
    // amortizes the tokenize across the sketch and recount consumers,
    // and the added repartition + 32-task waves measured NET SLOWER
    // (0.64 → 0.86s) than the one-core explode it parallelized.
    val tok = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token")).as[String]
    heavyHittersOf(tok, HhK)
  }

  /** The sketch→verify pipeline over any token stream (shared with the
    * Zipf-pressure spec).
    */
  private[graft] def heavyHittersOf(
      tok: org.apache.spark.sql.Dataset[String], k: Int): DataFrame = {
    // Persisted for the call's lifetime only: the sketch pass and the
    // candidate re-count both consume the exploded token stream (so it
    // is scanned exactly twice, not three times), and the final result
    // is BOUNDED (< k rows by the Misra-Gries guarantee) — so it
    // materializes eagerly into a local relation and the cache entry
    // releases before return. Callers with novel ad-hoc token streams
    // (specs, exploratory sessions) therefore leak nothing.
    val t = tok.toDF("token").persist()
    try {
      val mg = udaf(new graft.functions.MisraGriesAggregator(k),
        org.apache.spark.sql.Encoders.STRING)
      val first = t.agg(mg(col("token")).as("mg"), count(lit(1)).as("total"))
        .head()
      val summary = first.getAs[Map[String, Long]]("mg")
      val total = first.getAs[Long]("total")
      val cands = summary.keys.toSeq.sorted
      val out = t.filter(col("token").isin(cands: _*))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") * k > lit(total))
      val rows = out.collect() // < k rows, bounded model-size state
      tok.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally t.unpersist()
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ta_heavy_hitters", heavyHitters _, Oracle(
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         |t AS (SELECT count(*) AS total FROM tok)
         |SELECT token, n FROM c, t WHERE n * $HhK > total
         |ORDER BY n DESC, token""".stripMargin)),
    QuerySpec("ta_chunks", chunk _, Oracle(
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |st AS (SELECT doc_id, w,
         |  unnest(range(1, len(w) + 1, $ChunkStride)) AS s FROM w0)
         |SELECT doc_id, CAST((s - 1) // $ChunkStride AS INT) AS chunk_idx,
         |  CAST(least($ChunkLen, len(w) - s + 1) AS INT) AS n_tokens,
         |  array_to_string(list_slice(w, s, s + ${ChunkLen - 1}), ' ')
         |    AS chunk_text
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),
    QuerySpec("ta_pii", pii _, Oracle(
      """WITH p AS (SELECT doc_id,
        |  text || ' contact ' || source || '_' || doc_id
        |    || '@mail.example.com or 555-'
        |    || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS wp FROM documents),
        |r AS (SELECT doc_id, wp,
        |  regexp_replace(regexp_replace(wp,
        |    '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g') AS red FROM p)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(wp, '[a-z0-9._]+@[a-z0-9.]+')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(wp, '555-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(wp) - len(red) AS INT) AS removed_chars,
        |  md5(red) AS redacted_hash
        |FROM r ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_entropy", entropy _, Oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(log2(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / sum(c), 6)
        |    AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_boilerplate", boilerplate _, Oracle(
      s"""WITH w0 AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |            FROM documents),
         |sh AS (SELECT doc_id, source,
         |  unnest(${Dedup.shinglesSql(2)}) AS g FROM w0),
         |df AS (SELECT source, g, count(*) AS df FROM sh GROUP BY source, g),
         |nd AS (SELECT source, count(DISTINCT doc_id) AS n FROM sh
         |       GROUP BY source),
         |bo AS (SELECT source, g FROM df JOIN nd USING (source)
         |       WHERE n >= $BoilerMinDocs
         |         AND CAST(df AS DOUBLE) / n >= $BoilerFrac),
         |per AS (SELECT sh.doc_id, count(*) AS n_shingles,
         |  count(bo.g) AS n_boiler
         |  FROM sh LEFT JOIN bo ON sh.source = bo.source AND sh.g = bo.g
         |  GROUP BY sh.doc_id)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_boiler AS BIGINT) AS n_boiler,
         |  round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_frac,
         |  CAST(round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) <= 0.1
         |    AS INT) AS keep
         |FROM per ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_bm25", bm25 _, Oracle(
      s"""WITH q(query_id, query_text) AS (VALUES
         |${Bm25Queries.map { case (i, t) =>
             s"  (CAST($i AS BIGINT), '$t')" }.mkString(",\n")}),
         |qt AS (SELECT DISTINCT query_id,
         |    unnest(string_split(query_text, ' ')) AS t FROM q),
         |st AS (SELECT
         |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
         |      AS avgdl,
         |    CAST(count(*) AS DOUBLE) AS n FROM documents),
         |dt AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS t
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf,
         |    max(dl) AS dl
         |  FROM dt WHERE t IN (SELECT DISTINCT t FROM qt)
         |  GROUP BY doc_id, t),
         |dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf
         |        GROUP BY t),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |    CAST(sum(CAST(
         |      ln(1.0 + (n - df + 0.5) / (df + 0.5))
         |        * (tf * CAST(2.2 AS DOUBLE))
         |        / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |            + CAST(0.75 AS DOUBLE) * dl / avgdl))
         |      AS DECIMAL(38,18))) AS DOUBLE) AS score
         |  FROM tf JOIN dfq USING (t) JOIN qt USING (t), st
         |  GROUP BY qt.query_id, tf.doc_id),
         |rr AS (SELECT query_id, doc_id, round(score, 6) AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(score, 6) DESC, doc_id) AS rn FROM sc)
         |SELECT rr.query_id, q.query_text, CAST(rn AS INT) AS rnk,
         |  doc_id, score
         |FROM rr JOIN q USING (query_id) WHERE rn <= $Bm25TopK
         |ORDER BY query_id, rnk""".stripMargin)),
    QuerySpec("ta_pmi", pmi _, Oracle(
      s"""WITH w0 AS (SELECT string_split(text, ' ') AS w FROM documents),
         |st AS (SELECT CAST(sum(len(w)) AS DOUBLE) AS nt,
         |  CAST(sum(greatest(len(w) - 1, 0)) AS DOUBLE) AS nb FROM w0),
         |uc AS (SELECT t, count(*) AS c
         |  FROM (SELECT unnest(w) AS t FROM w0) GROUP BY t),
         |bi AS (SELECT w[i] AS x, w[i + 1] AS y
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w0
         |        WHERE len(w) >= 2)),
         |bc AS (SELECT x, y, count(*) AS cxy FROM bi GROUP BY x, y
         |  HAVING count(*) >= $PmiMinCount)
         |SELECT x, y, cxy,
         |  round(ln(CAST(cxy AS DOUBLE) * nt / CAST(ux.c AS DOUBLE) * nt
         |    / CAST(uy.c AS DOUBLE) / nb), 6) AS pmi
         |FROM bc JOIN uc ux ON bc.x = ux.t JOIN uc uy ON bc.y = uy.t, st
         |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin)),
    QuerySpec("ta_tfidf", tfidf _, Oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        |tl AS (SELECT doc_id, t, c, sum(c) OVER (PARTITION BY doc_id) AS len
        |       FROM tf),
        |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (SELECT doc_id, t,
        |  round(CAST(c AS DOUBLE) / len * ln(n / df), 6) AS tfidf
        |  FROM tl JOIN df USING (t), n),
        |ranked AS (SELECT doc_id, t, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, t) AS INT) AS rnk FROM scored)
        |SELECT doc_id, rnk, t AS term, tfidf FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)),
    QuerySpec("ta_rep_ngrams", repNgrams _, Oracle(
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ut AS (SELECT doc_id, unnest(w) AS t FROM w0),
        |uc AS (SELECT doc_id, t, count(*) AS c FROM ut GROUP BY doc_id, t),
        |uni AS (SELECT doc_id,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_uni_frac
        |  FROM uc GROUP BY doc_id),
        |b0 AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
        |    AS b FROM w0 WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM b0 GROUP BY doc_id, b),
        |bi AS (SELECT doc_id,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bi_frac,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS uniq_bi_ratio
        |  FROM bc GROUP BY doc_id)
        |SELECT uni.doc_id, top_uni_frac, top_bi_frac, uniq_bi_ratio,
        |  CAST(top_uni_frac <= 0.2 AND
        |    coalesce(top_bi_frac <= 0.2, TRUE) AS INT) AS keep
        |FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY uni.doc_id""".stripMargin)),
    QuerySpec.sql("f11_url",
      """SELECT doc_id,
        |  'https://' || source || '.example.com/docs/' || doc_id
        |    || '?lang=' || lang AS url,
        |  source || '.example.com' AS host,
        |  '/docs/' || doc_id AS path,
        |  lang AS q_lang
        |FROM documents""".stripMargin),
    QuerySpec("ta_unigram_logprob", unigramLogprob _, Oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(log10(CAST(cnt AS DOUBLE) / total)), 6) AS logprob
        |FROM tok JOIN freq USING (token), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_bigram_logprob", bigramLogprob _, Oracle(
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w
         |            FROM documents),
         |tok AS (SELECT unnest(w) AS token FROM w0),
         |c1 AS (SELECT token, count(*) AS c1 FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS total FROM c1),
         |bi AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
         |  unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
         |  FROM w0 WHERE len(w) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(sum(log10(
         |    $BigramLambda * CAST(c12.c12 AS DOUBLE) / ca.c1 +
         |    ${1 - BigramLambda} * CAST(cb.c1 AS DOUBLE) / total)), 6)
         |    AS logprob
         |FROM bi JOIN c12 USING (w1, w2)
         |  JOIN c1 ca ON ca.token = bi.w1
         |  JOIN c1 cb ON cb.token = bi.w2, tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_langid", langid _, Oracle(langidOracle)),
    QuerySpec("ta_vocab", vocab _, Oracle(
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),
    QuerySpec("ta_js_divergence", jsDivergence _, Oracle(
      """WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(sum(is_en) AS BIGINT) AS np,
        |    CAST(sum(1 - is_en) AS BIGINT) AS nq FROM t GROUP BY token),
        |tot AS (SELECT CAST(sum(np) AS BIGINT) AS tp,
        |    CAST(sum(nq) AS BIGINT) AS tq FROM c),
        |pq AS (SELECT np / CAST(tp AS DOUBLE) AS p,
        |    nq / CAST(tq AS DOUBLE) AS q,
        |    (np / CAST(tp AS DOUBLE) + nq / CAST(tq AS DOUBLE)) / 2 AS m
        |  FROM c, tot),
        |kl AS (SELECT
        |    sum(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END) AS klp,
        |    sum(CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0 END) AS klq
        |  FROM pq)
        |SELECT round((klp + klq) / 2, 6) AS js_nats,
        |  round(((klp + klq) / 2) / ln(2.0), 6) AS js_bits FROM kl""".stripMargin)),
    QuerySpec("ta_simpson", simpson _, Oracle(
      """WITH c AS (SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents) GROUP BY token),
        |s AS (SELECT count(*) AS vocab, CAST(sum(n) AS BIGINT) AS total,
        |    CAST(sum(n * (n - 1)) AS BIGINT) AS ss FROM c)
        |SELECT vocab, total,
        |  round(CAST(ss AS DOUBLE) / (total * (total - 1)), 6) AS simpson,
        |  round(CAST(total * (total - 1) AS DOUBLE) / ss, 6)
        |    AS inv_simpson FROM s""".stripMargin)),
    QuerySpec("ta_zipf", zipf _, Oracle(
      """WITH c AS (SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY token ORDER BY n DESC, token LIMIT 1000),
        |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token)
        |    AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM c)
        |SELECT round(regr_slope(y, x), 6) AS zipf_slope,
        |  round(regr_intercept(y, x), 6) AS zipf_intercept,
        |  count(*) AS n_head FROM r""".stripMargin)),
    QuerySpec("pipe_curate", curate _, Oracle {
      val sh3 = {
        val parts = (0 until 3).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""list_distinct(CASE WHEN len(w) >= 3
           | THEN list_transform(range(1, len(w) - 1), i -> $parts)
           | ELSE [] END)""".stripMargin.replace("\n", "")
      }
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t2 AS (SELECT doc_id, $sh3 AS sh FROM w0 WHERE len($sh3) > 0),
         |${Dedup.prefixCandSql(0.6)},
         |j AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
         |  FROM cand JOIN t2 a ON a.doc_id = doc_a JOIN t2 b ON b.doc_id = doc_b),
         |tails AS (SELECT DISTINCT doc_b AS doc_id FROM j WHERE round(jac, 6) >= 0.6),
         |q AS (SELECT doc_id, lang, n_chars, len(w) AS n_words,
         |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr
         |  FROM documents JOIN w0 USING (doc_id))
         |SELECT doc_id, lang, n_chars FROM q
         |WHERE n_words >= 30 AND ttr >= 0.3
         |  AND doc_id NOT IN (SELECT doc_id FROM tails)
         |ORDER BY doc_id""".stripMargin
    }),
    QuerySpec("ta_quality", quality _, Oracle(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, CAST(len(text) AS INT) AS n_chars_m,
        |  CAST(len(w) AS INT) AS n_words,
        |  CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr,
        |  round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w), 6)
        |    AS avg_word_len,
        |  round(CAST(len(list_filter(w, x ->
        |    list_contains(['the','a','and','of','to'], x))) AS DOUBLE) / len(w), 6)
        |    AS stop_ratio
        |FROM t ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_tokens", tokens _, Oracle(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS INT)
        |    AS re_vocab
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("ta_fingerprint", fingerprint _, Oracle {
      val sh5 = {
        val parts = (0 until 5).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""list_distinct(CASE WHEN len(w) >= 5
           | THEN list_transform(range(1, len(w) - 3), i -> $parts)
           | ELSE [] END)""".stripMargin.replace("\n", "")
      }
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |fp AS (SELECT doc_id,
         |  list_min(list_transform($sh5, x -> md5(x))) AS fingerprint FROM w0),
         |grp AS (SELECT fingerprint, count(*) AS n_docs FROM fp GROUP BY fingerprint)
         |SELECT doc_id, fp.fingerprint, n_docs FROM fp JOIN grp USING (fingerprint)
         |ORDER BY doc_id""".stripMargin
    }))
}
