package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard with prefix filtering, MinHash
  * LSH, SimHash, and embedding-cosine near-dup.
  *
  * Cross-engine determinism: every hash is md5 (bit-identical in Spark
  * and DuckDB), so even the LSH variants are oracle-checkable — no
  * engine-specific murmur/xxhash anywhere.
  *
  * Scale design: nothing here is O(n²) over the corpus. Candidate
  * generation is always an equi-join on a derived key (text hash, rare
  * prefix shingle, minhash band, simhash band), i.e. a shuffle Spark
  * partitions by key; verification touches only candidate pairs.
  */
object Dedup {

  /** Word k-shingles of a text column, distinct, null-safe for short docs. */
  def shingles(text: Column, k: Int): Column = {
    val w = split(text, " ")
    val grams = transform(sequence(lit(1), size(w) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(w, i + j)): _*))
    array_distinct(when(size(w) >= k, grams).otherwise(array()))
  }

  /** DuckDB twin of [[shingles]] (1-based lists; range is half-open). */
  private[graft] def shinglesSql(k: Int): String = {
    val parts = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len(w) >= $k
       | THEN list_transform(range(1, len(w) - ${k - 2}), i -> $parts)
       | ELSE [] END)""".stripMargin.replace("\n", "")
  }

  /** DuckDB twin of the PPJoin candidate generation in [[ngramJaccard]]
    * (prefix + size + positional prunes): expects a CTE `t2(doc_id, sh)`
    * in scope and yields `cand(doc_a, doc_b)`. The naive all-shingle
    * self-join oracle is quadratic on common shingles and times out at
    * sf0.1; this one mirrors the scalable plan, and since candidate
    * generation only needs to be a superset of the true pairs (the exact
    * Jaccard verify follows), both formulations provably agree.
    */
  private[graft] def prefixCandSql(tau: Double): String = {
    val overlap = tau / (1 + tau)
    // CAST(... AS DOUBLE): a bare decimal literal is exact DECIMAL in
    // DuckDB while Spark's lit(tau) is a binary double — for taus whose
    // double sits above the decimal value (e.g. 0.8), ceil() would round
    // differently between the engines. Scala's Double toString
    // round-trips, so casting the printed literal reproduces Spark's
    // exact operand.
    val tauD = s"CAST($tau AS DOUBLE)"
    val overlapD = s"CAST($overlap AS DOUBLE)"
    s"""e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM t2),
       |freq AS (SELECT s, count(*) AS f FROM e GROUP BY s),
       |pp AS (SELECT e.doc_id, e.s, e.n,
       |  row_number() OVER (PARTITION BY e.doc_id ORDER BY f.f, e.s) AS rnk
       |  FROM e JOIN freq f USING (s)),
       |pref AS (SELECT doc_id, s, n, rnk FROM pp
       |  WHERE rnk <= n - ceil($tauD * n) + 1),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM pref x JOIN pref y ON x.s = y.s
       |  WHERE x.doc_id < y.doc_id
       |    AND least(x.n, y.n) >= ceil($tauD * greatest(x.n, y.n))
       |    AND least(x.n - x.rnk, y.n - y.rnk) + 1 >=
       |      ceil($overlapD * (x.n + y.n)))""".stripMargin
  }

  // -------------------------------------------------------- exact dedup

  /** Exact dedup via hash-groupBy (one shuffle on md5(text); the text
    * itself never becomes a join key, so 100 TB of documents shuffle only
    * 32-byte digests + ids). keep_id = min doc_id per group (keep-first).
    */
  private def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------- n-gram Jaccard (prefix-filter join)

  private val JaccardTau = 0.6

  /** All document pairs with word-3-gram Jaccard ≥ 0.6, computed exactly
    * with PPJoin-style prefix filtering: shingle frequencies are a stats
    * pass; each doc indexes only its |S| - ceil(τ|S|) + 1 globally rarest
    * shingles (any pair meeting τ must share one of those), so the
    * candidate join is on rare keys instead of all-pairs; candidates are
    * then verified with the exact Jaccard. Same result set as the naive
    * O(n²) oracle, scalable shuffle profile.
    */
  private[graft] def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // Shingle sets are reused by three branches (freq stats, prefix index,
    // verification) — materialize once. Spark's CacheManager dedups the
    // identical plan across repeated invocations, so this is the
    // signature-table pattern a production dedup pipeline would persist.
    // Sets are 8-byte xxhash64 digests end to end, never strings: the
    // pinned postings and per-pair verify arrays are this operator's
    // whole footprint, and the string form measured 3-8× slower under
    // shared-cache pressure (the containment finding — eviction +
    // recompute of ~25-byte-key frames). The prefix filter only needs
    // one consistent global order ((f, gh) is one); a collision can
    // only merge keys, keeping the candidate set a superset; the
    // digest-set jaccard equals the string-set value to 64-bit
    // collision probability, and the ORACLE ranks and verifies raw
    // strings, so the differential check would expose a colliding
    // count (same contract as CorpusOps.gramDigests).
    // spreadScan BEFORE the pin: a cache entry built straight on the
    // single-split scan holds ONE partition, so even warm (cached)
    // passes of every consumer below ran single-core (r15 plan audit).
    val docs = spreadScan(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), array_sort(array_distinct(
        transform(shingles(col("text"), 3), x => xxhash64(x)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .pinned()
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s")).pinned()
    val freq = ex.groupBy("s").agg(count(lit(1)).as("f"))
    val prefixLen = (col("n") - ceil(lit(JaccardTau) * col("n")) + 1).cast("int")
    // The shingle-frequency dictionary is a stats table (bounded by the
    // shingle vocabulary, tiny relative to the corpus) — broadcast it so
    // the postings list is not shuffled just to learn frequencies.
    val prefix = ex.join(broadcast(freq), "s")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("f"), col("s"))))
      .filter(col("rnk") <= prefixLen)
      .select("doc_id", "s", "n", "rnk")
    // Two exact PPJoin prunes before the distinct/verify stages:
    //  - size compatibility: jaccard ≥ τ forces min(|A|,|B|) ≥ τ·max;
    //  - positional bound: both sides' shingles are ranked in the same
    //    global (freq, shingle) order, so a pair matching at ranks
    //    (ra, rb) can share at most min(na-ra, nb-rb)+1 shingles, which
    //    must reach the overlap threshold τ/(1+τ)·(na+nb).
    val minOverlap = ceil(lit(JaccardTau / (1 + JaccardTau)) *
      (col("x.n") + col("y.n")))
    val cand = prefix.as("x").join(prefix.as("y"), Seq("s"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n"), col("y.n")) >=
          ceil(lit(JaccardTau) * greatest(col("x.n"), col("y.n"))) &&
        least(col("x.n") - col("x.rnk"), col("y.n") - col("y.rnk")) + 1 >=
          minOverlap)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    // Codegen'd merge-intersect over the (sorted) digest sets.
    val inter = graft.functions.SetFunctions.sortedIntersectCountLong(
      col("sha"), col("shb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("jaccard", r6(inter.cast("double") /
        (size(col("sha")) + size(col("shb")) - inter)))
      .filter(col("jaccard") >= JaccardTau)
      .select("doc_a", "doc_b", "jaccard")
  }

  // --------------------------------------------------- MinHash + LSH

  private val NumHashes = 16
  private val NumBands = 4
  private val RowsPerBand = NumHashes / NumBands
  // Kirsch-Mitzenmacher double hashing: h_i(x) = (h1(x) + i*h2(x)) mod P.
  // P = 2^31-1 keeps i*h2 + h1 far below 2^63 (no overflow in either
  // engine); h1, h2 < P are packed into one long as (h1 << 31) | h2.
  private val MinhashP = 2147483647L

  /** MinHash LSH candidate pairs: 16 min-hashes over 3-gram shingles,
    * banded 4×4; pairs sharing any band bucket. The classic shingle→
    * minhash→band→bucket-join pipeline — the join key is the band digest,
    * so the shuffle is O(corpus × 4 digests). Each shingle is md5-hashed
    * exactly twice (h1, h2, materialized once); the 16 signature hashes
    * are pure arithmetic over the packed values — measured 205s→seconds
    * at 50k docs vs. the naive 16-seeded-md5 formulation.
    */
  /** MinHash signature table (doc_id, ms: array of 16 minima). */
  private def minhashSigsFrame(s: SparkSession, d: String): DataFrame = {
    val packed = Tables.documents(s, d)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), transform(col("sh"), x => {
        val h1 = conv(md5(x).substr(lit(1), lit(15)), 16, 10).cast("long") % MinhashP
        val h2 = conv(md5(concat(lit("s:"), x)).substr(lit(1), lit(15)), 16, 10)
          .cast("long") % MinhashP
        shiftleft(h1, 31) + h2
      }).as("hp"))
      .pinned()
    // All 16 minima in one native pass (graft.functions.MinHashSigs),
    // identical per-i to array_min(transform(hp, v -> (h1+i*h2) mod P)).
    packed.select(col("doc_id"),
      graft.functions.MinHashFunctions.minhashSigs(col("hp"), NumHashes).as("ms"))
  }

  /** LSH band candidate pairs from a signature table (doc_id, ms). */
  private def minhashCandidates(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      md5(concat_ws("-", (0 until RowsPerBand).map(j =>
        element_at(col("ms"), b * RowsPerBand + j + 1)): _*))
    }
    // Materialized band table: the self-join would otherwise recompute the
    // signatures for both sides.
    val bl = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
      .pinned()
    bl.as("x").join(bl.as("y"), Seq("band_idx", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashCandidates(minhashSigsFrame(s, d))

  /** Signature-estimated Jaccard for the LSH candidate pairs: the
    * fraction of agreeing signature components, the estimator a
    * verification-free dedup pass uses at scale (E[est] = true jaccard;
    * no shingle sets are ever re-read, so the verify stage costs
    * O(pairs × k) instead of O(pairs × doc length)).
    */
  private def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    // ONE signature frame threads through both the candidate generator
    // and the verify join (no duplicate plan construction).
    val sigs = minhashSigsFrame(s, d)
    val a = sigs.select(col("doc_id").as("doc_a"), col("ms").as("ms_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("ms").as("ms_b"))
    val agree = (0 until NumHashes).map(i =>
      (element_at(col("ms_a"), i + 1) === element_at(col("ms_b"), i + 1))
        .cast("int")).reduce(_ + _)
    minhashCandidates(sigs)
      .join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        r6(agree.cast("double") / NumHashes).as("jac_est"))
  }

  /** Shared CTE block producing the minhash candidate pair set. */
  private def minhashCandSql: String = {
    val sigsSql = (0 until NumHashes).map(i =>
      s"""list_min(list_transform(hp, v ->
         | ((v // 2147483648) + $i * (v % 2147483648)) % $MinhashP)) AS m$i"""
        .stripMargin.replace("\n", "")).mkString(", ")
    val bandsSql = (0 until NumBands).map { b =>
      val cat = (0 until RowsPerBand).map(j => s"m${b * RowsPerBand + j}::VARCHAR")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band_idx, md5($cat) AS band_val FROM sigs"
    }.mkString(" UNION ALL ")
    s"""w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |t AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM w0),
       |t2 AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
       |packed AS (SELECT doc_id, list_transform(sh, x ->
       |  (('0x' || substr(md5(x), 1, 15))::BIGINT % $MinhashP) * 2147483648 +
       |  (('0x' || substr(md5('s:' || x), 1, 15))::BIGINT % $MinhashP)) AS hp
       |FROM t2),
       |sigs AS (SELECT doc_id, $sigsSql FROM packed),
       |bands AS ($bandsSql),
       |mh_cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bands x JOIN bands y
       |  ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |  AND x.doc_id < y.doc_id)""".stripMargin
  }

  private def minhashOracle: String =
    s"""WITH $minhashCandSql
       |SELECT doc_a, doc_b FROM mh_cand ORDER BY doc_a, doc_b""".stripMargin

  /** Edit-distance near-dup: MinHash candidates verified by Levenshtein
    * distance. The DP is THRESHOLDED (Spark 4's 3-arg `levenshtein`):
    * the banded form costs O(min_len · (2·EditMax+1)) per pair instead
    * of O(len_a · len_b), returns −1 past the bound, and short-circuits
    * entirely when |len_a − len_b| > threshold — the output set is
    * identical to computing the full distance and filtering ≤ EditMax
    * (the DuckDB oracle keeps the unthresholded form), but per-pair
    * cost drops by ~len/(2k+1), which at typical document lengths here
    * is the dominant term of the whole verify stage.
    */
  private val EditMax = 40
  private def editDistance(s: SparkSession, d: String): DataFrame = {
    val cand = minhashCandidates(minhashSigsFrame(s, d))
    val ta = Tables.documents(s, d)
      .select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = Tables.documents(s, d)
      .select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    // Threshold EditMax + 1 (not EditMax): robust to either off-by-one
    // reading of "exceeds the bound → −1"; the BETWEEN filter then pins
    // the exact output contract regardless.
    //
    // Repartition + RDD barrier before the DP: the candidate frame is
    // BYTE-tiny (≈10⁻⁴ of the corpus), so AQE's byte-based coalescing
    // collapses the join output to ONE partition — and the DP, which is
    // CPU-heavy per row in a way byte stats cannot see, then runs
    // serially (measured at 30× data: all 8,380 pairs in one task,
    // ~8s serial DP; the whole registry query sat at ~47s). The
    // explicit-N repartition spreads the pairs; the lazy localCheckpoint
    // is a predicate-pushdown barrier — without it the BETWEEN filter
    // (whose pushed form re-evaluates the levenshtein) sinks below the
    // repartition, putting one full DP pass back on the serial side.
    val n = s.sessionState.conf.numShufflePartitions
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .repartition(n, col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), EditMax + 1)
          .as("edit_dist"))
      .filter(col("edit_dist").between(0, EditMax))
  }

  /** [[editDistance]]'s exact work contract, for
    * [[graft.GrowthGate]]'s work-metric gate, updated for the BANDED
    * DP: per candidate pair the thresholded Levenshtein costs ~1 when
    * |len_a − len_b| > EditMax (immediate −1) and ~min_len·(2k+3)
    * otherwise. The sum is NORMALIZED by the corpus mean document
    * length: the scaled-corpus generator suffixes every token, which
    * inflates min_len and mean_len by the same uniform factor, so the
    * normalized metric tracks the CANDIDATE COUNT (the linear-contract
    * quantity) instead of re-pricing generator length inflation —
    * that inflation is what forced the old len_a·len_b metric to carry
    * a 2.5× work slack. Deterministic where the DP stage's wall is not.
    */
  private[graft] def editDistanceWork(s: SparkSession, d: String): Double = {
    val cand = minhashCandidates(minhashSigsFrame(s, d))

    val docs = Tables.documents(s, d)
    val meanLen = docs.agg(coalesce(avg(length(col("text"))), lit(1.0)))
      .collect().head.getAs[Number](0).doubleValue
    val la = docs
      .select(col("doc_id").as("doc_a"), length(col("text")).as("len_a"))
    val lb = docs
      .select(col("doc_id").as("doc_b"), length(col("text")).as("len_b"))
    val pairCost = when(
      abs(col("len_a") - col("len_b")) > EditMax, lit(1.0))
      .otherwise(least(col("len_a"), col("len_b")).cast("double") *
        (2.0 * (EditMax + 1) + 1.0))
    // coalesce: sum over ZERO candidate pairs (a tiny dev corpus with
    // no LSH collisions) is NULL, and a bare getAs NPE here would void
    // the gate row's two successful timings.
    cand.join(la, "doc_a").join(lb, "doc_b")
      .agg(coalesce(sum(pairCost / lit(math.max(meanLen, 1.0))),
        lit(0.0)).as("work"))
      .collect().head.getAs[Number](0).doubleValue
  }

  // ----------------------------------------------------------- SimHash

  private val SimBits = 60 // 15 hex digits of md5 → fits a positive long
  private val SimHamMax = 3
  private val SimBands = 4 // 4 bands × 15 bits; pigeonhole-exact for ≤3

  /** Per-word hex digits of md5, as an array of 15 ints. */
  private def wordDigits(words: Column): Column =
    transform(words, w => {
      val h = md5(w)
      transform(sequence(lit(1), lit(15)),
        j => conv(h.substr(j, lit(1)), 16, 10).cast("int"))
    })

  /** 60-bit SimHash from a materialized digit-array column: bit (j,k) is
    * set iff the count of words whose md5 hex digit j has bit k set
    * exceeds half. Bit weights are Scala-level literals, so the signature
    * is one expression — no UDF, no shuffle.
    */
  private def simhashFromDigits(dw: Column): Column =
    (for { j <- 1 to 15; k <- 0 until 4 } yield {
      val weight = 1L << ((15 - j) * 4 + k)
      val cnt = aggregate(dw, lit(0L),
        (acc, digits) => acc +
          (floor(element_at(digits, lit(j)) / (1 << k)).cast("long") % 2) * 2 - 1)
      when(cnt > 0, lit(weight)).otherwise(lit(0L))
    }).reduce(_ + _)

  /** SimHash signature table: md5 once per word, then the native
    * single-pass [[graft.functions.SimHash60]] expression (semantically
    * identical to [[simhashFromDigits]]/the DuckDB oracle; ~10x faster
    * than the 60-scan composed form). Persisted — it is the input of the
    * banded self-join, and CacheManager dedups the plan across
    * invocations, so this doubles as the pipeline's signature table.
    */
  private def simhashSigFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        transform(split(col("text"), " "), w => md5(w)).as("wh"))
      .select(col("doc_id"),
        graft.functions.SimHashFunctions.simhash60(col("wh")).as("simhash"))
      .pinned()

  /** Single-document SimHash (composed-expression form; kept as the
    * readable reference implementation and for API use).
    */
  def simhash(text: Column): Column = simhashFromDigits(wordDigits(split(text, " ")))

  private def simhashSql: String = {
    val terms = (for { j <- 1 to 15; k <- 0 until 4 } yield {
      val weight = 1L << ((15 - j) * 4 + k)
      s"""CASE WHEN list_sum(list_transform(dw,
         | digits -> (CAST(floor(digits[$j] / ${1 << k}) AS BIGINT) % 2) * 2 - 1)) > 0
         | THEN CAST($weight AS BIGINT) ELSE 0 END""".stripMargin.replace("\n", "")
    }).mkString(" + ")
    s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |dws AS (SELECT doc_id, list_transform(w, x ->
       |  list_transform(range(1, 16), j -> CAST(('0x' || substr(md5(x), j, 1))::BIGINT AS INT))) AS dw
       |FROM w0)
       |SELECT doc_id, $terms AS simhash FROM dws ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-dup pairs (hamming ≤ 3) via banded join: 4 bands of 15
    * bits — any pair within hamming 3 shares at least one band
    * (pigeonhole), so the banded equi-join is exact, not approximate,
    * while shuffling only (band_idx, 15-bit key) pairs.
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = simhashSigFrame(s, d).withColumnRenamed("simhash", "sig")
    val bandCols = (0 until SimBands).map { b =>
      (shiftrightunsigned(col("sig"), b * 15).bitwiseAND(lit(0x7FFFL))).as(s"b$b")
    }
    val bl = sigs.select(Seq(col("doc_id"), col("sig")) ++ bandCols: _*)
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until SimBands).map(b => col(s"b$b")): _*))
          .as(Seq("band_idx", "band_val")))
    bl.as("x").join(bl.as("y"), Seq("band_idx", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimHamMax)
  }

  private def simhashPairsOracle: String = {
    val inner = simhashSql.replace("ORDER BY doc_id", "")
    s"""WITH sigs AS ($inner)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimHamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------- dedup clustering

  /** Connected components over the near-dup graph (edges = jaccard ≥ τ
    * pairs): every document labeled with the minimum doc_id reachable
    * through near-dup links — the canonical representative for keep-first
    * cluster dedup. [[connectedComponents]] does the graph work: a
    * certified min-label fast path for the tiny-clique common case,
    * falling back to large-star/small-star contraction (O(log n)
    * rounds regardless of diameter) for long chains — before round 10
    * a capped propagation loop silently returned wrong labels on a
    * chain longer than its cap. Convergence checks are scalar counts
    * per round, not collects.
    */
  private def clusters(s: SparkSession, d: String): DataFrame = {
    // ngramJaccard's pair contract is doc_a < doc_b, so the pair list IS
    // the canonical u > v directed edge list — no symmetrize pass. (The
    // star ops re-derive both directions internally; pinning only the
    // canonical form halves the retained edge list. Pinning matters:
    // bench invocations re-ran the PPJoin+verify subplan every pass
    // before it — dd_clusters 1.8s → 5.0s.)
    val edges = ngramJaccard(s, d)
      .select(col("doc_b").as("u"), col("doc_a").as("v"))
      .pinned()
    connectedComponents(edges, Tables.documents(s, d).select(col("doc_id")))
  }

  /** Connected components over a canonical (u, v) edge list with u > v:
    * returns (doc_id, cluster) where cluster is the minimum node id in
    * each node's component.
    *
    * Two phases, both of which CERTIFY their answer instead of trusting
    * an iteration cap:
    *
    * Phase 1 — min-label propagation, capped at [[HashMinRounds]]. One
    * cheap action per round; converges in O(component diameter) rounds,
    * which for real near-dup graphs (tiny cliques) means round 2
    * already reports no change. The `changed == 0` exit is a PROOF of
    * correctness, not a heuristic: at a fixpoint every adjacent pair
    * has label(u) ≤ label(v) and label(v) ≤ label(u), so labels are
    * component-constant, and the component minimum keeps its own id
    * (all labels in a component are ids from that component, hence
    * ≥ the min). A graph still changing at the cap falls through —
    * never returns — to
    *
    * Phase 2 — alternating large-star/small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * large-star connects every neighbor LARGER than u to the minimum
    * of u's closed neighborhood, small-star connects u and its SMALLER
    * neighbors to that minimum. Converges to per-component stars rooted
    * at the minimum in O(log n) rounds REGARDLESS of diameter — the
    * long-chain shape that made a capped propagation loop silently
    * wrong before round 10. Per-round reducer state is one min per
    * node, never a neighbor list. Its rounds cap is a safety net
    * against an implementation bug and THROWS rather than returning
    * unconverged labels.
    */
  /** Node-count bound under which the per-round label frames BROADCAST
    * into the hashmin joins (guide §3.1; the g1_pagerank pattern): the
    * label frame is two 8-byte columns, so 4M rows sit comfortably
    * inside the broadcast envelope, and both per-round joins then carry
    * no label shuffle — the round's only exchange is the neighbor-min
    * aggregate. Above the bound (a 100 TB corpus's node list) the
    * joins keep their shuffled shape, which scales with
    * nodes/partitions. Data-driven at runtime off a MEMOIZED
    * nodes.count() (one job per distinct node frame per context —
    * warm re-invocations read the memo).
    */
  private val CcBroadcastMaxNodes = 4L * 1024 * 1024

  private[graft] def connectedComponents(edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    val HashMinRounds = 4
    val nNodes = graft.ContextCaches.decideOnce(nodes, "ccNodeCount")(
      nodes.count())
    val small = nNodes <= CcBroadcastMaxNodes
    def bcast(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // One hashmin round over the previous labels: neighbor-min join +
    // aggregate, then the new label frame with its convergence flag.
    // The flag rides ON the frame: labels only ever DECREASE, so
    // `changed` ⇔ nbr_min < cluster — a filter over cache, not a
    // shuffle join of next against prev (r16). Label-frame joins
    // broadcast under [[CcBroadcastMaxNodes]] (node-cardinality both
    // sides), so a round's only exchange is the neighbor-min aggregate.
    def round(prevPin: DataFrame): DataFrame = {
      val neighborMin = edges
        .select(col("u").as("doc_id"), col("v").as("nbr"))
        .union(edges.select(col("v").as("doc_id"), col("u").as("nbr")))
        .join(bcast(prevPin.select(col("doc_id").as("nbr"),
          col("cluster").as("nbr_cluster"))), Seq("nbr"))
        .groupBy("doc_id").agg(min(col("nbr_cluster")).as("nbr_min"))
      prevPin.select(col("doc_id"), col("cluster"))
        .join(bcast(neighborMin), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          coalesce(col("nbr_min") < col("cluster"), lit(false)).as("chg"))
        .pinned()
    }
    // PAIRED rounds, one count action per pair (r16): the certifying
    // `changed == 0` exit only needs the LAST round's flag, so two
    // chained rounds materialize under a single round-2 count (which
    // forces round 1's pin on the way) — halving the per-round action
    // count the tiny-clique common case pays (round 2 is already the
    // fixpoint there). changed₂ == 0 proves labels₁ was a fixpoint and
    // labels₂ == labels₁ — the same certificate, one job later at
    // worst. `labelsPin` is the frame that actually holds cache
    // storage; unpersist() must target the EXACT cached plan — calling
    // it on a projection is a silent no-op and would leak one
    // node-cardinality entry per round.
    var labelsPin = nodes
      .select(col("doc_id"), col("doc_id").as("cluster")).pinned()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < HashMinRounds) {
      val r1 = round(labelsPin)
      val r2 = round(r1)
      changed = r2.filter(col("chg")).count()
      labelsPin.unpersist()
      r1.unpersist() // r2's rows are materialized; r1's cache is done
      labelsPin = r2
      iter += 2
    }
    if (changed == 0) labelsPin.drop("chg")
    else {
      labelsPin.unpersist()
      starContraction(edges, nodes)
    }
  }

  /** Phase 2 of [[connectedComponents]] — see its doc. */
  private def starContraction(edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: per node u, m = min(N(u) ∪ {u}); emit (v, m) for every
    // neighbor v > u. Output stays canonical (v > u ≥ m).
    def largeStar(e: DataFrame): DataFrame = {
      val sy = sym(e)
      val m = sy.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sy.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: per node u over its SMALLER neighbors N<(u) (m is
    // their min), emit (u, m) and (v, m) for v ∈ N<(u) \ {m}.
    def smallStar(e: DataFrame): DataFrame = {
      val sy = sym(e).filter(col("v") < col("u"))
      val m = sy.groupBy("u").agg(min("v").as("m"))
      sy.join(m, "u")
        .select(explode(array(
          struct(col("u").as("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") > col("v"))
        .distinct()
    }
    val MaxRounds = 50
    // Iterative lineage discipline: each star op references its input
    // twice (min-aggregate + fan-out join), so an unbroken lineage
    // would grow the logical plan 4× PER ROUND — analysis alone becomes
    // the bottleneck long before any data moves. An eager
    // localCheckpoint truncates the plan to the materialized partitions
    // every round (same device GraphX/GraphFrames iterative jobs use);
    // the caller's `edges` frame itself stays pinned/unpinned on the
    // caller's terms.
    var cur = edges
    var iter = 0
    var done = false
    while (!done && iter < MaxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = true)
      val changed = next.join(cur, Seq("u", "v"), "left_anti").count() +
        cur.join(next, Seq("u", "v"), "left_anti").count()
      done = changed == 0
      if (cur ne edges) cur.unpersist()
      cur = next
      iter += 1
    }
    require(done,
      s"connected components did not reach a star fixpoint within " +
        s"$MaxRounds large/small-star rounds — refusing to return " +
        "unconverged (silently wrong) cluster labels")
    nodes
      .join(cur.select(col("u").as("doc_id"), col("v").as("cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Incremental-ingestion dedup — the shape a 100 TB corpus actually
    * runs day to day: a NEW batch of documents screens against the
    * historical corpus without ever joining it in full. The historical
    * side aggregates its fingerprint digests into a fixed-size bloom
    * filter (Spark's own BloomFilterAggregate — a distributed
    * partial/merge aggregate whose state is the bitset, built exactly
    * like the optimizer's runtime filters; driver holds one bitset,
    * never the digests). Incoming docs test membership with
    * BloomFilterMightContain — a pure codegen'd expression — and ONLY
    * the maybe-dup survivors (true dups + the configured false-positive
    * rate) reach the exact semi-join verify, so the join input shrinks
    * from |batch| to |hits| while the OUTPUT stays exact: the bloom is
    * a pre-filter, never the answer, which is why the query is
    * oracle-checkable bit-for-bit. Fingerprints are the min-shingle
    * digest (ta_fingerprint), so "dup" here means near-dup by
    * construction. The 80/20 historical/incoming split is the same
    * md5-bucket scheme as pp_hash_split (deterministic, cross-engine).
    */
  private def incremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftglue.Glue
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // Persisted: four consumers (bloom build, membership filter, verify
    // join, final outcome join) would otherwise each re-run the full
    // shingle+md5 scan; the cached frame is three narrow columns.
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      array_min(transform(shingles(col("text"), 5), md5(_))).as("h"))
      .pinned()
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 9, 4),
      16, 10).cast("long") % 100
    val hist = docs.filter(bucket < 80).select(col("h"))
    val inc = docs.filter(bucket >= 80)
    val bloomAgg = new BloomFilterAggregate(
      Glue.expression(xxhash64(col("h"))),
      CatLit(1000000L), CatLit(1L << 23)).toAggregateExpression()
    val bloomBytes = hist.select(Glue.column(bloomAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = Glue.column(new BloomFilterMightContain(
      CatLit.create(bloomBytes),
      Glue.expression(xxhash64(col("h")))))
    // No distinct() on the build side: a semi join already emits each
    // probe row at most once, and deduplicating 100 TB of historical
    // fingerprints first would be a full aggregation bought for nothing.
    val candDup = inc.filter(mightContain)
      .join(hist, Seq("h"), "left_semi")
      .select(col("doc_id"), lit(1).as("is_dup"))
    inc.join(candDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))
  }

  /** Canonical-representative selection: for every near-dup cluster
    * (from [[clusters]]), keep the longest document (word count, ties to
    * the smallest doc_id) — the "keep best, not first" policy a curation
    * pipeline applies so boilerplate-trimmed copies lose to the fullest
    * version. One join of the label frame against per-doc stats + a
    * per-cluster window; both shuffle on their natural keys and the
    * window state is one row per cluster.
    */
  private def keepBest(s: SparkSession, d: String): DataFrame = {
    val nw = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).as("n_words"))
    val w = Window.partitionBy("cluster")
    clusters(s, d).join(nw, "doc_id")
      .withColumn("n_docs", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("n_words").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keep_id"),
        col("n_docs"), col("n_words"))
  }

  /** Contamination-safe train/val/test assignment: the split is decided
    * by the near-dup CLUSTER label, not the document id, so near-dup
    * documents can never straddle train and test — the
    * split-by-document scheme (pp_hash_split) leaks test content into
    * training whenever near-dups exist, the failure mode LLM eval
    * decontamination exists to prevent. Same md5-bucket arithmetic as
    * pp_hash_split, applied to the cluster label; one extra column on
    * the label-propagation output, no new shuffle.
    */
  private[graft] def clusterSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("cluster").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise("test")
    clusters(s, d)
      .select(col("doc_id"), col("cluster"), split.as("split"))
  }

  // ------------------------------------------- embedding cosine near-dup

  // Shared with Similarity.semanticNearDup so the approximate variant's
  // threshold cannot drift from the exact baseline it is specced against.
  private[graft] val CosTau = 0.45

  /** Embedding near-dup pairs: cosine ≥ τ over the embeddings table.
    * Exact variant — the all-pairs comparison is the oracle semantics;
    * the scale path (LSH-bucketed) lives in [[Similarity]]. Vectors are
    * L2-normalized in one narrow pass first so the pair stage is a plain
    * dot product.
    */
  private def cosineNearDup(s: SparkSession, d: String): DataFrame =
    blockedCosinePairs(s, d, CosTau)

  /** Composed-plan form (broadcast nested-loop join with the threshold in
    * the join condition, codegen'd dot). Kept as the readable reference —
    * [[blockedCosinePairs]] is spec-asserted bit-identical to it.
    */
  private[graft] def cosineNearDupComposed(s: SparkSession, d: String,
      tau: Double = CosTau): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
    val a = v.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"))
    // The threshold lives in the JOIN CONDITION: the nested-loop join then
    // evaluates the codegen'd dot per candidate and only materializes the
    // (rare) matching pairs, instead of building every wide pair row and
    // filtering afterwards. The dot is recomputed in the projection for
    // survivors only.
    val cos = r6(graft.functions.VectorFunctions.dot(col("ea"), col("eb")) /
      (col("na") * col("nb")))
    a.join(broadcast(b), col("id_a") < col("id_b") && cos >= tau)
      .select(col("id_a"), col("id_b"), cos.as("cos"))
  }

  /** Spark's Round(double, 6) path (BigDecimal HALF_UP on the canonical
    * string repr) — reused inside the kernel so rounded values are
    * bit-identical to the composed plan and the DuckDB oracle.
    */
  private[graft] def round6d(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Blocked all-pairs cosine kernel: the corpus block is broadcast as
    * primitive arrays and each partition runs a tight dot-product loop
    * (mapPartitions) — the block-nested-loop a matrix engine would run,
    * ~5x the broadcast-NLJ row machinery it replaces. Arithmetic order is
    * identical to the composed plan (sequential dot, norm divide, then
    * round), so results are bit-equal.
    *
    * 100 TB path: tile the corpus into broadcast-sized blocks and loop
    * block joins (each output pair belongs to exactly one (i-block,
    * j-block) tile, so the union is exact); the per-tile inner loop below
    * is unchanged. This corpus fits one tile.
    */
  private def norm(e: Array[Double]): Double = {
    var t = 0.0; var i = 0
    while (i < e.length) { t += e(i) * e(i); i += 1 }
    math.sqrt(t)
  }

  // Corpus broadcast cache, keyed by (SparkContext, dir) — broadcasts
  // are a CONTEXT facility, so sessions sharing one context share the
  // cached entry instead of each pinning a copy (and discarded sessions
  // leak nothing). Building the kernel plan requires the collected
  // corpus, and every plan construction (warmup + measured bench passes,
  // plan-hygiene sweeps, Verify) would otherwise run its own collect job
  // and leak one broadcast per call. One entry per corpus — the
  // materialized "index block" a production vector store would keep
  // resident anyway. Caveat: a dir is assumed immutable for the
  // context's lifetime (rewriting the parquet under a cached dir serves
  // stale data); entries are evicted when the context stops.
  private val corpusCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String),
      org.apache.spark.broadcast.Broadcast[(Array[(Long, Array[Double])], Array[Double])]]
  private def hookEviction(sc: org.apache.spark.SparkContext): Unit =
    ContextCaches.evictOnStop(sc, "dedup-corpus")(() =>
      corpusCache.filterInPlace { case ((c, _), _) => c ne sc })

  /** The per-partition inner loop shared by the single-tile and tiled
    * kernels: score one scan row against one broadcast corpus block.
    */
  private def kernelScore(
      it: Iterator[(Long, Array[Double])],
      bv: Array[(Long, Array[Double])], bn: Array[Double],
      tau: Double): Iterator[(Long, Long, Double)] =
    it.flatMap { case (ida, ea) =>
      val na = norm(ea)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = 0
      while (j < bv.length) {
        val (idb, eb) = bv(j)
        if (idb > ida) {
          var dp = 0.0; var i = 0
          while (i < ea.length) { dp += ea(i) * eb(i); i += 1 }
          val c = round6d(dp / (na * bn(j)))
          if (c >= tau) out += ((ida, idb, c))
        }
        j += 1
      }
      out.iterator
    }

  private def collectCorpus(s: SparkSession, d: String) = {
    hookEviction(s.sparkContext)
    corpusCache.getOrElseUpdate((s.sparkContext, d), {
      import s.implicits._
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .as[(Long, Array[Double])]
        .collect().sortBy(_._1)
      s.sparkContext.broadcast((corpus, corpus.map { case (_, e) => norm(e) }))
    })
  }

  private[graft] def blockedCosinePairs(s: SparkSession, d: String,
      tau: Double): DataFrame = {
    import s.implicits._
    // spreadScan: the O(N²/2) kernel loop otherwise runs inside the
    // single-split embeddings scan on ONE core every pass (r15 plan
    // audit — this was the whole cost of dd_cosine_neardup).
    val v = spreadScan(Tables.embeddings(s, d), col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .as[(Long, Array[Double])]
    val bc = collectCorpus(s, d)
    v.mapPartitions { it =>
      val (bv, bn) = bc.value
      kernelScore(it, bv, bn, tau)
    }.toDF("id_a", "id_b", "cos")
  }

  /** Tiled form of [[blockedCosinePairs]] — the 100 TB path: when the
    * corpus exceeds one broadcast, split the vec_id domain into `tiles`
    * ranges and run one block-scan JOB per tile, sequentially: filtered
    * collect of the tile (a Column-level range predicate, so the parquet
    * reader prunes row groups), broadcast, scan, APPEND the tile's pairs
    * to a scratch parquet dir straight from the executors, destroy the
    * broadcast. Pair rows never land on the driver — on a dup-heavy
    * corpus (the LLM-dedup case) near-dup pair counts grow superlinearly
    * and would not fit driver memory; here they stream to storage and
    * the returned DataFrame reads them back lazily. The driver and the
    * block managers hold at most ONE tile's vectors at a time — never
    * the full corpus — and the scratch dir is deleted when the context
    * stops. Every (i < j) pair lands in exactly one tile's scan, so the
    * union is exact (spec-asserted equal to the single-tile kernel).
    * Tile boundaries come from approximate vec_id quantiles: boundaries
    * only balance memory, never affect which pairs are emitted, so
    * approximation is safe. Total scan work (tiles × corpus reads of the
    * probe side) is the same as the single-plan form.
    */
  private[graft] def blockedCosinePairsTiled(s: SparkSession, d: String,
      tau: Double, tiles: Int): DataFrame = {
    import s.implicits._
    val vDf = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val v = vDf.as[(Long, Array[Double])]
    val cuts =
      if (tiles <= 1) Array.empty[Double]
      else vDf.stat.approxQuantile(
        "vec_id", (1 until tiles).map(_.toDouble / tiles).toArray, 0.001)
    val bounds = (Long.MinValue +: cuts.toSeq.map(_.toLong) :+
      Long.MaxValue).distinct.sliding(2).toSeq
    val scratch = TileScratch.newDir(s, "cosine-tiles")
    bounds.foreach { case Seq(lo, hi) =>
      val tile = vDf.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(
        (tile, tile.map { case (_, e) => norm(e) }))
      try v.mapPartitions { it =>
        val (bv, bn) = bc.value
        kernelScore(it, bv, bn, tau)
      }.toDF("id_a", "id_b", "cos")
        .write.mode("append").parquet(scratch)
      finally bc.destroy()
    }
    // Explicit schema: a corpus with zero near-dup pairs may leave the
    // scratch dir without data files, and schema inference would fail.
    s.read.schema("id_a BIGINT, id_b BIGINT, cos DOUBLE")
      .parquet(scratch)
  }

  // Span-coverage n-gram order (word 8-grams — the passage-level grain
  // of Lee et al. 2022's substring dedup, shifted to word tokens).
  private val SpanK = 8

  /** Duplicated-passage coverage (the signal behind substring-level
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): every positional word 8-gram of every document is
    * a span; a span is *duplicated* if its gram also occurs in at least
    * one other document. Per document: total spans, duplicated spans,
    * and the duplicated fraction — the per-doc score a curation pass
    * thresholds to drop boilerplate-heavy pages.
    *
    * Scale shape: the gram→document-frequency dictionary is built by a
    * grouped count over the exploded spans and joined back BY GRAM — a
    * plain shuffle equi-join on the derived key (never broadcast: the
    * dictionary grows with the corpus), then a per-doc aggregation.
    * Both shuffles partition by their natural keys; no all-pairs stage
    * anywhere. Docs shorter than [[SpanK]] words have no spans and are
    * absent from the output (same as the oracle's WHERE).
    */
  private def spanCoverage(s: SparkSession, d: String): DataFrame = {
    // Materialize the token array once per row (a column reference in
    // the gram lambda, so the split never re-evaluates per element),
    // explode ONCE, and pre-aggregate to (doc, gram, multiplicity)
    // before anything joins: the dictionary and the join both consume
    // the aggregated frame, so the raw span stream exists exactly once
    // and the gram-keyed join moves one row per distinct (doc, gram),
    // not one per position.
    // spreadScan: tokenize + 8-gram build + explode otherwise run
    // inside the single-split documents scan on one core (r15 audit).
    val dg = spreadScan(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SpanK)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (SpanK - 1)),
        i => concat_ws(" ",
          (0 until SpanK).map(j => element_at(col("w"), i + j)): _*)))
        .as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .pinned() // two consumers: the df dictionary and the join side
    val df = dg.groupBy("gram").agg(count(lit(1)).as("nd"))
    dg.join(df, "gram")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L)))
          .as("n_dup_spans"))
      .withColumn("dup_frac",
        r6(col("n_dup_spans").cast("double") / col("n_spans")))
  }

  // ------------------------------------------- asymmetric containment

  private val ContainTau = 0.8

  /** Asymmetric containment near-dup detection: ordered pairs (A, B)
    * where at least [[ContainTau]] of A's word-3-gram set also occurs
    * in B — the case symmetric Jaccard structurally misses (a short doc
    * quoted wholesale inside a long wrapper page has high containment
    * but low Jaccard, because the union is dominated by B). The
    * candidate stage is the containment variant of PPJoin's prefix
    * filter (Xiao et al. 2008's overlap-join framework with the
    * overlap constraint t = ⌈τ·|A|⌉): t depends only on the
    * PROBE side, so A probes with its |A| − t + 1 globally rarest
    * shingles while the index side must carry every shingle (no
    * τ-prefix exists for B when |B| is unbounded — the standard
    * asymmetric probe-prefix/full-index scheme). Size
    * (|B| ≥ ⌈τ·|A|⌉) and positional (both sides ranked in one global
    * (freq, shingle) order, so remaining-suffix lengths bound the
    * overlap) prunes still apply; the exact merge-intersect verify
    * follows. Scale shape: the probe prefix picks A's RAREST shingles,
    * so candidate joins land on short postings lists; the full-index
    * side shuffles one row per (doc, shingle) — the same postings
    * volume the span-coverage dictionary already moves — and no
    * all-pairs stage exists anywhere.
    */
  private def containment(s: SparkSession, d: String): DataFrame =
    // spreadScan: the shingle-digest build feeding the postings index
    // otherwise runs inside the single-split scan on one core.
    containmentOf(spreadScan(Tables.documents(s, d), col("doc_id")))

  /** Spec hook: the containment join over an arbitrary (doc_id, text)
    * frame — lets the spec plant a genuine quote-inside-wrapper pair
    * (high containment, sub-τ Jaccard) regardless of what the driver's
    * synthetic corpus happens to contain.
    */
  private[graft] def containmentOf(documents: DataFrame): DataFrame = {
    // Shingles live as 8-byte xxhash64 digest SETS end to end, never
    // strings (the decontaminate-gram lesson): both the corpus-sized
    // postings index and the per-pair verify arrays are what this
    // operator pins and shuffles, and the string form measured 3×
    // slower under a full 10× scale run's cache pressure (112s vs 36s
    // isolated — eviction + window recompute of the string postings).
    // Correctness: the prefix filter only needs ONE consistent global
    // order — (f, gh) is one — and a digest collision can only MERGE
    // keys, so key-set overlap ≥ string overlap and every true pair
    // still surfaces; the verify intersect runs on the digest sets,
    // exact to 64-bit collision probability, and the ORACLE ranks and
    // verifies raw strings over the same corpus, so the differential
    // check would expose a colliding count (same contract as
    // CorpusOps.gramDigests).
    val docs = documents
      .select(col("doc_id"), array_sort(array_distinct(
        transform(shingles(col("text"), 3), s => xxhash64(s)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .pinned()
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("gh"))
    val freq = ex.groupBy("gh").agg(count(lit(1)).as("f"))
    // Probe prefix AND full index both read this ranked frame — pin it
    // so the rank window runs once.
    val ranked = ex.join(broadcast(freq), "gh")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("f"), col("gh"))))
      .pinned()
    val probe = ranked.filter(col("rnk") <=
      (col("n") - ceil(lit(ContainTau) * col("n")) + 1).cast("int"))
    val cand = probe.as("x").join(ranked.as("y"), Seq("gh"))
      .filter(col("x.doc_id") =!= col("y.doc_id") &&
        col("y.n") >= ceil(lit(ContainTau) * col("x.n")) &&
        least(col("x.n") - col("x.rnk"), col("y.n") - col("y.rnk")) + 1 >=
          ceil(lit(ContainTau) * col("x.n")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    val inter = graft.functions.SetFunctions.sortedIntersectCountLong(
      col("sha"), col("shb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("containment",
        r6(inter.cast("double") / size(col("sha"))))
      .filter(col("containment") >= ContainTau)
      .select("doc_a", "doc_b", "containment")
  }

  // ------------------------------------------------------------ registry

  /** The recursive connected-components CTE shared by the dd_clusters
    * and dd_keep_best oracles: yields `reach(src, dst)` whose per-src
    * minimum is the cluster label.
    */
  private def clustersReachSql: String =
    s"""WITH RECURSIVE w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |t AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM w0),
       |t2 AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
       |${prefixCandSql(JaccardTau)},
       |j AS (SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
       |  FROM cand JOIN t2 a ON a.doc_id = doc_a JOIN t2 b ON b.doc_id = doc_b),
       |edges0 AS (SELECT doc_a, doc_b FROM j WHERE round(jac, 6) >= $JaccardTau),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM edges0
       |  UNION ALL SELECT doc_b, doc_a FROM edges0),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dd_containment", containment _, Oracle {
      // Containment twin of prefixCandSql: probe prefix (x from pref)
      // against the FULL ranked postings (y from pp), size/positional
      // prunes keyed to ⌈τ·x.n⌉ alone. CAST(τ AS DOUBLE) for the same
      // ceil-rounding parity reason documented on prefixCandSql.
      val tauD = s"CAST($ContainTau AS DOUBLE)"
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM w0),
         |t2 AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
         |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM t2),
         |freq AS (SELECT s, count(*) AS f FROM e GROUP BY s),
         |pp AS (SELECT e.doc_id, e.s, e.n,
         |  row_number() OVER (PARTITION BY e.doc_id ORDER BY f.f, e.s) AS rnk
         |  FROM e JOIN freq f USING (s)),
         |pref AS (SELECT doc_id, s, n, rnk FROM pp
         |  WHERE rnk <= n - ceil($tauD * n) + 1),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM pref x JOIN pp y ON x.s = y.s
         |  WHERE x.doc_id <> y.doc_id
         |    AND y.n >= ceil($tauD * x.n)
         |    AND least(x.n - x.rnk, y.n - y.rnk) + 1 >= ceil($tauD * x.n)),
         |v AS (SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
         |    AS containment
         |  FROM cand JOIN t2 a ON a.doc_id = doc_a
         |    JOIN t2 b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, containment FROM v
         |WHERE containment >= $tauD
         |ORDER BY doc_a, doc_b""".stripMargin
    }),
    QuerySpec("dd_span_coverage", spanCoverage _, Oracle {
      val parts = (0 until SpanK).map(j => s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w) - ${SpanK - 2}), i -> $parts))
         |    AS gram
         |  FROM w0 WHERE len(w) >= $SpanK),
         |df AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS dup_frac
         |FROM g JOIN df USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    QuerySpec("dd_incremental", incremental _, Oracle {
      val sh5 = {
        val parts = (0 until 5).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""list_distinct(CASE WHEN len(w) >= 5
           | THEN list_transform(range(1, len(w) - 3), i -> $parts)
           | ELSE [] END)""".stripMargin.replace("\n", "")
      }
      s"""WITH w0 AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |  FROM documents),
         |f AS (SELECT doc_id, lang,
         |  list_min(list_transform($sh5, x -> md5(x))) AS h,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))::BIGINT % 100
         |    AS b FROM w0),
         |hist AS (SELECT h FROM f WHERE b < 80),
         |inc AS (SELECT doc_id, lang, h FROM f WHERE b >= 80)
         |SELECT doc_id, lang,
         |  CASE WHEN h IN (SELECT h FROM hist) THEN 1 ELSE 0 END AS is_dup
         |FROM inc ORDER BY doc_id""".stripMargin
    }),
    QuerySpec("dd_exact", exact _, Oracle(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),
    QuerySpec("dd_ngram_jaccard", ngramJaccard _, Oracle(
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM w0),
         |t2 AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
         |${prefixCandSql(JaccardTau)},
         |j AS (SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
         |  FROM cand JOIN t2 a ON a.doc_id = doc_a JOIN t2 b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= $JaccardTau
         |ORDER BY doc_a, doc_b""".stripMargin)),
    QuerySpec("dd_minhash_lsh", minhashLsh _, Oracle(minhashOracle)),
    QuerySpec("dd_minhash_est", minhashEstimate _, Oracle {
      val agree = (0 until NumHashes).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashCandSql
         |SELECT doc_a, doc_b, round(($agree) / $NumHashes.0, 6) AS jac_est
         |FROM mh_cand
         |JOIN sigs a ON a.doc_id = doc_a
         |JOIN sigs b ON b.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    }),
    QuerySpec("dd_edit_distance", editDistance _, Oracle(
      s"""WITH $minhashCandSql
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
         |FROM mh_cand
         |JOIN documents a ON a.doc_id = doc_a
         |JOIN documents b ON b.doc_id = doc_b
         |WHERE levenshtein(a.text, b.text) <= $EditMax
         |ORDER BY doc_a, doc_b""".stripMargin),
      growth = Some(WorkGated(1.5, 2.5, editDistanceWork,
        "work = mean-length-NORMALIZED banded-DP cost over LSH " +
          "candidate pairs (min_len*(2k+3), or ~1 past the length-gap " +
          "early exit, / corpus mean len): the operator now runs Spark " +
          "4's thresholded levenshtein, and normalizing by mean length " +
          "cancels the generator's uniform token-suffix inflation, so " +
          "the metric tracks candidate COUNT - slack tightened 2.5 -> " +
          "1.5; a quadratic candidate blow-up (~factor^2) still flags"))),
    QuerySpec("dd_clusters", clusters _, Oracle(
      s"""$clustersReachSql
         |SELECT src AS doc_id, min(dst) AS cluster FROM reach
         |GROUP BY src ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_cluster_split", clusterSplit _, Oracle(
      s"""$clustersReachSql,
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach
         |  GROUP BY src),
         |b AS (SELECT doc_id, cluster,
         |  ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT % 100
         |    AS bucket FROM lab)
         |SELECT doc_id, cluster,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)),
    QuerySpec("dd_keep_best", keepBest _, Oracle(
      s"""$clustersReachSql,
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach
         |  GROUP BY src),
         |nw AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT)
         |  AS n_words FROM documents),
         |r AS (SELECT cluster, lab.doc_id, n_words,
         |  count(*) OVER (PARTITION BY cluster) AS n_docs,
         |  row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_words DESC, lab.doc_id) AS rn
         |  FROM lab JOIN nw USING (doc_id))
         |SELECT cluster, doc_id AS keep_id, n_docs, n_words
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin)),
    QuerySpec("dd_simhash", simhashSigFrame _, Oracle(simhashSql)),
    QuerySpec("dd_simhash_pairs", simhashPairs _, Oracle(simhashPairsOracle)),
    QuerySpec("dd_cosine_neardup", cosineNearDup _, Oracle(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |n AS (SELECT vec_id, e,
         |  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_sum(list_transform(range(1, len(a.e) + 1),
         |    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= $CosTau
         |ORDER BY id_a, id_b""".stripMargin),
      growth = Some(Exempt(150.0, 2.0,
        "exact all-pairs cosine screen: quadratic scored-pair count by " +
          "definition (the LSH/semantic variants are the scale path)"))))
}
