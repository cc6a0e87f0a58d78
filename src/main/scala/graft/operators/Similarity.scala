package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  *  - [[annTopkExact]]: brute-force cosine top-k for a query set — the
  *    correctness baseline (oracle-checked). Queries are broadcast; the
  *    corpus is scanned once, so at 100 TB this is one narrow pass +
  *    per-query top-k (TakeOrdered shape), not an all-pairs shuffle.
  *  - [[annTopkLsh]]: random-hyperplane LSH variant — the scale path.
  *    Sign-bit signatures bucket the corpus; only bucket-mates are
  *    scored. Deterministic planes (md5-derived), no oracle (approximate
  *    by construction); recall vs the exact baseline is spec-tested.
  *
  * The persisted-index lifecycle over these kernels (build, load,
  * serve, append, rebuild) is [[VectorIndex]].
  */
object Similarity {

  private[operators] val K = 10
  private val NumQueries = 10 // vec_id < 10 are the query vectors

  /** L2-normalized double vectors, persisted: every ANN variant reads the
    * corpus twice (query side + corpus side) and the normalization pass
    * should run once (CacheManager dedups the plan across invocations).
    *
    * spreadScan (r16): the testdata embeddings file is a single split,
    * so the pin cached as ONE partition and every consumer — including
    * [[knnSelfBroadcast]]'s 25M-dot argmax kernel and the ANN serve
    * probes — streamed it serially on every pass (the executed plan
    * showed the whole BNLJ + partial argmax in one task). Hash-spread
    * by vec_id before the pin; production multi-split stores keep
    * their layout (the guard declines when the scan is already split).
    * Measured (this container, warm subset): sim_knn_self 4.23 → 2.86 s,
    * ann_topk_ivfpq 2.11 → 1.68 s, ann_topk_ivf 1.0 → 0.77 s; recalls
    * unchanged (lsh 1.00, ivf 0.90, pq 0.92, ivfpq 0.93, sem 0.938).
    */
  private[operators] def normalized(s: SparkSession, d: String): DataFrame =
    graft.spreadScan(normalizeFrame(Tables.embeddings(s, d)),
      col("vec_id")).pinned()

  // Corpus row count, cached per (context, dir): the PQ rerank sizing and
  // the 1-NN tile dispatch both need it, and an uncached count() would add
  // a full corpus-scan job to EVERY search invocation.
  // Same immutable-dir assumption and stop-eviction as the model caches.
  private val countCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), Long]

  private def corpusCount(s: SparkSession, d: String): Long = {
    graft.ContextCaches.evictOnStop(s.sparkContext, "sim-corpus-count")(() =>
      countCache.filterInPlace { case ((c, _), _) => c ne s.sparkContext })
    countCache.getOrElseUpdate((s.sparkContext, d),
      Tables.embeddings(s, d).count())
  }

  // Embedding dimensionality, cached like the count: five call sites
  // (LSH planes, PQ subvectors at train/search/save/load) each ran a
  // one-row first() job per invocation otherwise.
  private val dimCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), Int]

  private[operators] def corpusDim(s: SparkSession, d: String): Int = {
    graft.ContextCaches.evictOnStop(s.sparkContext, "sim-corpus-dim")(() =>
      dimCache.filterInPlace { case ((c, _), _) => c ne s.sparkContext })
    dimCache.getOrElseUpdate((s.sparkContext, d),
      Tables.embeddings(s, d).select(size(col("embedding")))
        .first().getInt(0))
  }

  /** Codegen'd native dot product (see [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  /** Per-vector int8 affine quantization (min/max scaling to 0..255) —
    * the compression step a 100 TB vector store applies before ANN
    * serving (4x smaller than float32, distance error bounded by
    * scale/2). Emitted here as the quantization parameters + the first
    * four codes, all closed-form and oracle-checkable; constant vectors
    * (scale 0) quantize to null codes.
    */
  private def quantize(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding").cast("array<double>")
    val mn = array_min(e)
    val mx = array_max(e)
    val scale = (mx - mn) / 255.0
    val codes = (1 to 4).map(i =>
      when(scale > 0, round((element_at(e, i) - mn) / scale).cast("int"))
        .as(s"q$i"))
    Tables.embeddings(s, d)
      .select(Seq(col("vec_id"), r6(mn).as("mn"), r6(mx).as("mx")) ++ codes: _*)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector. */
  def annTopkExact(s: SparkSession, d: String): DataFrame = {
    val v = normalized(s, d)
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    topK(v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r6(dot(col("qu"), col("u"))).as("cos")))
  }

  /** Each query's K best (query_id, neighbor_id, cos) rows, ranked by
    * cosine descending and then neighbor id — the last step of every
    * search variant and of the persisted-index serve.
    */
  private[operators] def topK(scored: DataFrame): DataFrame =
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))

  // ------------------------------------------------ LSH-bucketed variant

  // 5 bands × 3 sign bits: for this corpus's neighbor range (cos ≈ 0.4,
  // per-bit agreement p ≈ 0.63) analytic recall is 1-(1-p³)⁵ ≈ 0.76 vs
  // ≈ 0.50 for 4×4 — wider bands trade candidates for recall.
  private val NumPlanes = 15
  private val LshBands = 5
  private val BandBits = 3

  /** Deterministic pseudorandom hyperplanes: weight (p, i) is derived from
    * md5 so any engine/restart reproduces them. Driver-side constants
    * (like config), not data.
    */
  private[graft] def planes(dim: Int): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumPlanes, dim) { (p, i) =>
      val h = mdig.digest(s"$p:$i".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h).getInt & 0xFFFFFFFFL
      v.toDouble / 4294967296.0 * 2 - 1
    }
  }

  /** ANN via multi-probe random-hyperplane LSH: NumPlanes=15 sign bits
    * per vector, banded LshBands=5 × BandBits=3; the corpus indexes its
    * exact band buckets, while each QUERY additionally probes every
    * 1-bit-flipped bucket per band (hamming≤1 multi-probe). Per-band
    * hit probability rises from p³ to p³+3p²(1-p) (p ≈ per-bit
    * agreement) — at p≈0.63 analytic recall is 1-(1-0.69)⁵ ≈ 0.997 vs
    * ≈ 0.76 single-probe — while the corpus-side index and shuffle are
    * unchanged; only the (tiny) query side fans out 4×.
    */
  def annTopkLsh(s: SparkSession, d: String): DataFrame = {
    val sig = signFrame(normalized(s, d), corpusDim(s, d))
    lshSearchWith(sig, sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"), col("sig")))
  }

  /** Sign an arbitrary (vec_id, u) frame with the deterministic planes:
    * the (id, vector, signature) rows an LSH index persists, so serving
    * never recomputes the NumPlanes dot products per vector.
    */
  private[graft] def signFrame(v: DataFrame, dim: Int): DataFrame = {
    val pl = planes(dim)
    val sigBits: Column = (0 until NumPlanes).map { p =>
      val w = typedlit(pl(p).toSeq)
      when(dot(col("u"), w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    v.withColumn("sig", sigBits)
  }

  /** L2-normalize an arbitrary (vec_id, embedding) frame. */
  private[graft] def normalizeFrame(q: DataFrame): DataFrame =
    q.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("e"), x => x / col("nrm")).as("u"))

  /** Banded probe + rerank of an arbitrary signed query frame
    * (query_id, qu, sig) against a signed corpus (vec_id, u, sig) —
    * shared by the in-session query and the persisted LSH index.
    */
  private[graft] def lshSearchWith(sig: DataFrame, qsig: DataFrame): DataFrame = {
    val banded = sig.select(col("vec_id"), col("u"),
      posexplode(array((0 until LshBands).map(b =>
        shiftrightunsigned(col("sig"), b * BandBits)
          .bitwiseAND(lit((1L << BandBits) - 1))): _*))
        .as(Seq("band_idx", "bucket")))
    // Query probe set: exact bucket + each single-bit flip, per band.
    val probeStructs = for {
      b <- 0 until LshBands
      f <- -1 until BandBits
    } yield {
      val base = shiftrightunsigned(col("sig"), b * BandBits)
        .bitwiseAND(lit((1L << BandBits) - 1))
      val bucket = if (f < 0) base else base.bitwiseXOR(lit(1L << f))
      struct(lit(b).as("band_idx"), bucket.as("bucket"))
    }
    val q = qsig
      .select(col("query_id"), col("qu"),
        explode(array(probeStructs: _*)).as("bb"))
      .select(col("query_id"), col("qu"),
        col("bb.band_idx").as("band_idx"), col("bb.bucket").as("bucket"))
    val cand = banded.join(q, Seq("band_idx", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qu"), col("vec_id").as("neighbor_id"), col("u"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(cand.select(col("query_id"), col("neighbor_id"),
      r6(dot(col("qu"), col("u"))).as("cos")))
  }

  // ------------------------------------------------------- IVF variant

  // Tuned by graft.RecallSweep (cells × probes × iters × corpus-assign,
  // all at the SAME 25% scan fraction). Finer quantization wins
  // decisively — at sf0.1 (2k vectors): 32/8 0.63 · 64/16 0.62 ·
  // 96/24 0.70 · 128/32 0.75; corpus-side 2-assign spill on 64 cells
  // reaches 0.72 and 4-assign on 64 reaches 0.74, both short of plain
  // 128-cell quantization. Extra Lloyd iterations (8) buy nothing at
  // 128 cells.
  //
  // Round 10 pushed the same axis further: 256/64 0.83 · 512/128 0.90
  // (rank seeds) / 0.92 (k-means++ seeds) — still 25% scan. The round-9
  // "weak cluster structure" recall ceiling was a quantization-grain
  // artifact, not a corpus property: target cell size drops 16 → 4 and
  // seeding ships as k-means++ (seedPlusPlus; pure maximin measured
  // WORSE than rank, 0.70 — it chases outliers; the d² weighting is
  // the part that matters). Per-vector index-build cost is N·cells
  // comparisons, so cells ∝ N makes training quadratic-ish —
  // acceptable to the 4096-cell cap, another reason the cap marks the
  // hand-off to a hierarchical coarse quantizer.
  //
  // Round 8 (cell-count rule; TARGETS retuned round 10): cell COUNTS
  // are corpus-derived, not fixed — prior rounds shipped 128/32 with a
  // scaladoc note that "production guidance is cells ∝ N"; now the
  // code follows its own guidance. The count is
  // 2^round(log2(N / target)), clamped to [tuned floor, 4096], with
  // target CELL SIZE 4 (IVF, retuned 16 → 4 in round 10's
  // quantization-grain fix above) / 64 (SemDeDup) vectors:
  //  - power-of-two rounding keeps the trained config stable under
  //    small corpus drift (no retrain on ±5% growth);
  //  - the FLOOR is the round-7 tuned fixed count itself (128 / 32),
  //    so no corpus ever quantizes COARSER than the geometry the
  //    original recall floors were measured at. (A first cut floored
  //    IVF at 32 cells and sf0.001 recall fell 0.90 → 0.64: finer
  //    quantization wins at a fixed scan fraction, per the sweep, so
  //    small corpora must keep fine geometry even at cell size <
  //    target.)
  //  - the 4096 cap bounds the broadcast centroid table and the
  //    driver-resident model; past ~16k vectors per the rule (4096
  //    cells × target 4), a real deployment moves toward ~√N coarse
  //    sizing or a hierarchical coarse quantizer rather than more
  //    flat cells.
  // Probe count keeps the tuned 25% scan fraction with an absolute
  // probed-vector floor (the PQ shortlist lesson: fixed absolute knobs
  // decay as the corpus grows; fixed FRACTIONS survive): probes =
  // ceil(cells · max(50, 0.25·N) / N), capped at cells. Derived
  // geometry at the tuned sf0.1 anchor (N = 2000 embeddings):
  //   IVF  cells = 2^round(log2(2000/4))  = 512, probes = 128 (25%);
  //   Sem  cells = 2^round(log2(2000/64)) = 32 (the floor value).
  // At 10× natural growth (20k vectors): IVF hits the 4096-cell cap,
  // probes = 1024 — same 25% fraction, finer quantization (measured:
  // see the RecallSweep curve note below). These derivations are
  // asserted by SimilaritySpec's "derived IVF/Sem geometry" test —
  // if a constant changes, that spec (and this block) must move with
  // it. Determinism: N comes from the cached corpusCount, so the
  // derived config is fixed per (context, dir) like the trained
  // models.
  private[graft] val IvfTargetCellSize = 4
  private[graft] val SemTargetCellSize = 64
  private[graft] val IvfCellFloor = 128
  private[graft] val SemCellFloor = 32
  private[graft] val MaxCells = 4096
  private[graft] val IvfScanFrac = 0.25
  private[graft] val IvfProbeMinVectors = 50

  private[graft] def cellsFor(n: Long, target: Int, floor: Int): Int = {
    val raw = math.max(1.0, n.toDouble / target)
    // Clamp the exponent BEFORE shifting: at n/target ≥ 2^31 (a ~34B-
    // vector corpus — inside the design envelope) `1 << p` would
    // overflow Int to the FLOOR instead of the cap, silently inverting
    // the cells-∝-N rule. MaxCells is a power of two, so capping p at
    // its log2 is exact.
    val pCap = java.lang.Integer.numberOfTrailingZeros(MaxCells)
    val p = math.min(pCap.toLong,
      math.round(math.log(raw) / math.log(2.0))).toInt
    math.min(MaxCells, math.max(floor, 1 << math.max(0, p)))
  }

  private[graft] def ivfCells(s: SparkSession, d: String): Int =
    cellsFor(corpusCount(s, d), IvfTargetCellSize, IvfCellFloor)

  private[graft] def probesFor(cells: Int, n: Long): Int =
    math.min(cells, math.ceil(cells *
      math.max(IvfProbeMinVectors.toDouble, IvfScanFrac * n) / n).toInt)

  private[graft] def ivfProbes(s: SparkSession, d: String,
      cells: Int): Int = probesFor(cells, corpusCount(s, d))

  // Composed-index (IVFPQ) probe width: the ADC stage prices a
  // candidate ~51× cheaper than the exact scan plain IVF runs on its
  // probed members, so the coarse stage can afford wider probes —
  // widening is the direct attack on the coarse-stage recall cap the
  // round-7 artifact showed (ivfpq 0.74 vs flat PQ 0.89). Measured by
  // RecallSweep's ivfpq:<probes> mode at sf0.1 (k=32 codebooks, fixed
  // frac·N rerank): probes 32 → 0.74, 48 → 0.82, 64 → 0.83 — the knee
  // is at 1.5× the IVF width; past it the curve flattens while the
  // probed fraction keeps climbing (37.5% → 50%). Shipped: 1.5×.
  private[graft] val IvfPqProbeBoost = 1.5
  private[graft] def ivfPqProbes(cells: Int, n: Long): Int =
    math.min(cells,
      math.ceil(IvfPqProbeBoost * probesFor(cells, n)).toInt)

  private[operators] val IvfIters = 4
  // Coarse-quantizer seeding, measured by RecallSweep's mm: mode
  // (round-10): see the sweep notes in SURVEY before changing.
  private[graft] val IvfSeeding = "kmeanspp"
  private[graft] val IvfCorpusAssign = 1

  // SemDeDup keeps its own coarser geometry: pair recall needs both
  // members of a near-dup pair in one cell, so FEWER, larger cells win
  // there (0.868 pair recall at 32 cells / 4-assign at sf0.1; finer
  // cells shred pairs across boundaries unless assign grows with them
  // at the same scanned fraction — the round-12 sweep showed matched
  // fraction → matched recall across 16/32/64 cells). Search and dedup share
  // the trainer and the per-(dir, cells, iters) cache — two tiny
  // centroid tables, each serving the configuration its recall was
  // measured at.
  private[graft] def semCells(s: SparkSession, d: String): Int =
    cellsFor(corpusCount(s, d), SemTargetCellSize, SemCellFloor)

  /** `nAssign`-nearest-cell assignment of every vector against a (tiny,
    * broadcast) centroid table — nAssign = 1 is the IVF corpus
    * assignment; SemDeDup multi-assigns (its recall knob).
    */
  private[operators] def assignCells(v: DataFrame, cent: DataFrame,
      nAssign: Int = 1): DataFrame =
    if (nAssign == 1)
      // Argmax as an AGGREGATE, not a window: the broadcast nested-loop
      // product is consumed streamingly by the partial max_by, so the
      // shuffle carries one row per vector — the window form shuffled
      // and sorted all N·cells scored rows (82M at the 10× smoke's
      // 20k × 4096), which dominated training once cells ∝ N got fine.
      // Tie semantics identical: max over (cs, −cell) == first row of
      // (cs desc, cell asc).
      v.crossJoin(broadcast(cent))
        .withColumn("cs", dot(col("u"), col("cu")))
        .groupBy("vec_id")
        .agg(first(col("u")).as("u"),
          max_by(col("cell"),
            struct(col("cs"), (-col("cell")).as("nc"))).as("cell"))
        .select(col("vec_id"), col("u"), col("cell"))
    else
      // nAssign > 1 (SemDeDup's 3-assign over its ≤ a few hundred
      // coarse cells): the top-k window stays affordable there.
      v.crossJoin(broadcast(cent))
        .withColumn("cs", dot(col("u"), col("cu")))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cs").desc, col("cell"))))
        .filter(col("rn") <= nAssign)
        .select(col("vec_id"), col("u"), col("cell"))

  /** ANN via IVF (inverted-file index): the corpus is coarse-quantized
    * to [[ivfCells]] centroid cells (corpus-derived — constant expected
    * cell size); each query probes its [[ivfProbes]] nearest cells
    * (constant 25% scan fraction) and reranks only those members
    * exactly. At 100 TB the cell id is the partition key — a probe
    * touches probes/cells of the data, and centroids (the only
    * broadcast state) stay tiny. Centroids are k-means-refined from
    * deterministic seeds ([[IvfIters]] Lloyd steps, the distributed
    * explode→mean shape); component means accumulate in DECIMAL so the
    * trained index is bit-identical across runs and partitionings (a
    * plain double avg would drift with partition order and could flip
    * boundary assignments run-to-run). Recall@10 vs exact at the
    * derived config: 0.90 at sf0.1 and 0.98 at the 10× natural-growth
    * smoke (round 10's finer cells-∝-N grain + k-means++ seeding; the
    * earlier 0.75 plateau was quantization grain, not corpus
    * structure).
    */
  def annTopkIvf(s: SparkSession, d: String): DataFrame = {
    val cells = ivfCells(s, d)
    annTopkIvfTuned(s, d, cells, ivfProbes(s, d, cells), IvfIters)
  }

  // Trained-centroid cache, keyed by (context, dir, cells, iters): the
  // IVF index is trained once per corpus and kept resident (the same
  // argument as the dedup corpus cache — a production vector store
  // serves queries against a materialized index, it does not re-run
  // Lloyd per query). Entries are driver-side Seqs of cells×dim doubles
  // — negligible memory, deterministic by construction. Same caveats as
  // the corpus cache: dirs are assumed immutable for the context's
  // lifetime, and entries are evicted when the context stops.
  private val centroidCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String, Int, Int, String),
      Seq[(Long, Seq[Double])]]

  /** The cached trained-centroid table for (dir, cells, iters, seed) —
    * the one eviction-hooked lookup every centroid consumer (IVF
    * search, SemDeDup, [[VectorIndex.build]]) goes through, so cache
    * keying and eviction cannot diverge between them.
    */
  private[operators] def trainedCentroids(s: SparkSession, d: String,
      cells: Int, iters: Int, seed: String = IvfSeeding): DataFrame = {
    import s.implicits._
    graft.ContextCaches.evictOnStop(s.sparkContext, "ivf-centroids")(() =>
      centroidCache.filterInPlace { case ((c, _, _, _, _), _) =>
        c ne s.sparkContext })
    centroidCache.getOrElseUpdate(
      (s.sparkContext, d, cells, iters, seed),
      trainCentroids(s, d, cells, iters, seed))
      .toDF("cell", "cu")
  }

  private[graft] def annTopkIvfTuned(s: SparkSession, d: String,
      cells: Int, probes: Int, iters: Int,
      nAssign: Int = IvfCorpusAssign,
      seed: String = IvfSeeding): DataFrame =
    ivfSearch(s, d, trainedCentroids(s, d, cells, iters, seed), probes,
      nAssign)

  /** Probe-and-rerank against a given centroid table. `nAssign` > 1
    * is corpus-side spill (each vector indexed under its nAssign
    * nearest cells): a true neighbor sitting just across the
    * query's probed boundary is still found through its second cell —
    * the recall knob that attacks boundary misses directly, paid as an
    * nAssign× larger index (NOT more probe work per cell scan fraction
    * at fixed probes·nAssign/cells).
    */
  private def ivfSearch(s: SparkSession, d: String, cent: DataFrame,
      probes: Int, nAssign: Int): DataFrame = {
    val v = normalized(s, d)
    // Pinned: the corpus-side assignment IS the inverted index — a
    // vector store serves queries against materialized inverted lists,
    // it does not re-run the N·cells argmin per query batch (at
    // cells ∝ N that recompute is the quadratic-ish term the round-10
    // growth gate surfaced on this query). Same residency contract as
    // the trained centroids and semanticAssignments.
    val assign = assignCells(v, cent, nAssign).pinned()
    val qcells = v.filter(col("vec_id") < NumQueries).crossJoin(broadcast(cent))
      .withColumn("cs", dot(col("u"), col("cu")))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cs").desc, col("cell"))))
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("query_id"), col("u").as("qu"), col("cell"))
    topK(qcells.join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r6(dot(col("qu"), col("u"))).as("cos"))
      .dropDuplicates("query_id", "neighbor_id"))
  }

  // --------------------------------------------------- SemDeDup variant

  // Cell multi-assignment breadth: each vector joins its 5 nearest cells,
  // so a near-dup pair straddling cell boundaries still meets — the
  // same recall knob as IVF probes, paid as ~assign²/cells-fold candidate
  // volume. Round-12/13 sweeps at sf0.1 (RecallSweep sem: mode, 32
  // cells, exact baseline 144 pairs): assign 3 → pair recall 0.757,
  // 4 → 0.868, 5 → 0.938; coarser geometry at fixed assign (24/20/16
  // cells, 4-assign) gave 0.896/0.951/0.972 — consistent with the
  // round-12 finding that this corpus's embeddings are weakly clustered
  // (cos-to-centroid ∈ [−0.24, 0.46]), so recall tracks the scanned
  // fraction at ANY cell geometry. 5-assign clears the lifted 0.90
  // recall floor at 25/16 ≈ 1.56× the 4-assign candidate volume (the
  // serve wall rides the candidate count; bench-measured against the
  // 1.5× budget); the candidate fraction stays cells-bounded and FALLS
  // as the corpus grows (cells ∝ N at fixed assign).
  private[graft] val SemAssign = 5

  /** Semantic (embedding-space) near-duplicate detection bucketed by the
    * trained k-means cells — the SemDeDup scheme (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): instead of the exact all-pairs cosine pass
    * ([[Dedup]]'s `dd_cosine_neardup`), vectors are compared only within
    * a shared cell. At 100 TB the cell id is the shuffle key and
    * per-cell work is (N/cells)² instead of N² — the candidate volume
    * drops by ~cells/assign² while the trained centroids (the only
    * broadcast state) stay tiny; a SKEWED cell (k-means on real
    * embedding corpora produces them) cannot straggle, because cells
    * above [[SemCellBlock]] assignments split into hash sub-blocks and
    * pair up per block pair ([[semanticNearDupBlocked]]), output
    * unchanged. Approximate by construction (a pair
    * whose members straddle every probed boundary is missed) → no SQL
    * oracle; the spec proves every emitted pair IS an exact-baseline
    * pair (same τ, cosine within 1e-6), measures recall against the
    * exact pass, and asserts the candidate reduction that justifies the
    * scheme. Reuses the cached IVF centroids — one trained index serves
    * search AND dedup, as a production store would.
    */
  private def semanticNearDup(s: SparkSession, d: String): DataFrame =
    semanticNearDupTuned(s, d, semCells(s, d), SemAssign, Dedup.CosTau)

  // Per-sub-block target for the within-cell pair join: a cell whose
  // assignment count n exceeds this splits into k = ceil(n/block) hash
  // sub-blocks and the pair stage joins per UNORDERED BLOCK PAIR, so no
  // single shuffle key ever carries more than ~(2·block)² candidate
  // evaluations. k-means on real embedding corpora is heavily skewed —
  // without the split, one cell holding 10% of the corpus lands its
  // whole quadratic pair volume on ONE key, a straggler AQE cannot
  // rewrite (the blow-up is in the join OUTPUT, not the input sizes).
  // private[graft]: the hot-cell spec accounts task volume at the
  // exact shipped configuration.
  private[graft] val SemCellBlock = 1024

  private[graft] def semanticNearDupTuned(s: SparkSession, d: String,
      cells: Int, nAssign: Int, tau: Double): DataFrame =
    semanticNearDupBlocked(s, d, cells, nAssign, tau, SemCellBlock)

  /** Within-cell pairs via salted triangle blocking — EXACTLY the pairs
    * the unblocked cell join emits (spec-asserted bit-equal), with
    * per-task work bounded: each vector salts into one of its cell's
    * k = ceil(n/block) sub-blocks (deterministic xxhash64) and
    * replicates to the k unordered block-pair keys containing it; the
    * orientation predicate keeps each pair at exactly ONE key, so the
    * blow-up of a hot cell spreads over k(k+1)/2 ordinary-sized tasks
    * instead of one straggler. Balanced cells (k = 1) degenerate to the
    * plain cell-keyed join. Total candidate volume is unchanged — that
    * is SemDeDup's semantic cost, controlled by growing `cells` with
    * the corpus (cells ∝ N keeps expected cell size flat); the blocking
    * removes the skew hazard, not the quadratic-within-cell definition.
    */
  private[graft] def semanticNearDupBlocked(s: SparkSession, d: String,
      cells: Int, nAssign: Int, tau: Double, block: Int): DataFrame =
    // One blocked-assignment build feeds both join sides (the pinned
    // assignment underneath runs its crossJoin fan-out + rank once).
    semanticPairsOfBlocked(
      semanticBlockedFrame(s, d, cells, nAssign, block), tau)

  /** The within-cell pair join over an already-blocked frame — shared
    * verbatim by the in-session path and [[VectorIndex.pairs]], so a
    * loaded index answers bit-identically to the session that built it.
    */
  private[operators] def semanticPairsOfBlocked(f: DataFrame,
      tau: Double): DataFrame = {
    val a = f.select(col("cell").as("cell_a"), col("bi").as("bi_a"),
      col("bj").as("bj_a"), col("salt").as("salt_a"),
      col("vec_id").as("id_a"), col("u").as("ua"))
    val b = f.select(col("cell").as("cell_b"), col("bi").as("bi_b"),
      col("bj").as("bj_b"), col("salt").as("salt_b"),
      col("vec_id").as("id_b"), col("u").as("ub"))
    val cos = r6(dot(col("ua"), col("ub")))
    // Threshold and ordering live in the JOIN CONDITION (the
    // cosineNearDupComposed pattern): the equi-key is (cell, block
    // pair), and only the rare surviving pairs materialize wide rows.
    // The orientation predicate admits a pair only where its two salts
    // ARE the key's block pair (either way around), so a pair meets at
    // exactly one key pre-dedup.
    a.join(b, col("cell_a") === col("cell_b") &&
        col("bi_a") === col("bi_b") && col("bj_a") === col("bj_b") &&
        ((col("salt_a") === col("bi_a") && col("salt_b") === col("bj_a")) ||
          (col("salt_a") === col("bj_a") && col("salt_b") === col("bi_a"))) &&
        col("id_a") < col("id_b") && cos >= tau)
      .select(col("id_a"), col("id_b"), cos.as("cos"))
      // multi-assignment can meet the same pair in up to nAssign cells
      .dropDuplicates("id_a", "id_b")
  }

  /** The salted/blocked side of the SemDeDup pair join: one row per
    * (vector, unordered block-pair key it participates in). Cell sizes
    * are a bounded aggregate (one row per cell, broadcast back); salt =
    * xxhash64(vec_id) mod k is deterministic across runs and engines.
    * Exposed for the hot-cell spec's per-key volume accounting.
    */
  private[graft] def semanticBlockedFrame(s: SparkSession, d: String,
      cells: Int, nAssign: Int, block: Int): DataFrame =
    blockedFrameOf(semanticAssignments(s, d, cells, nAssign), block)

  private[operators] def blockedFrameOf(assign: DataFrame,
      block: Int): DataFrame = {
    val sizes = assign.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    assign.join(broadcast(sizes), "cell")
      .withColumn("k",
        ceil(col("n_cell") / lit(block.toDouble)).cast("int"))
      .withColumn("salt",
        pmod(xxhash64(col("vec_id")), col("k")).cast("int"))
      .select(col("cell"), col("salt"),
        explode(sequence(lit(0), col("k") - 1)).as("peer"),
        col("vec_id"), col("u"))
      .select(col("cell"),
        least(col("salt"), col("peer")).as("bi"),
        greatest(col("salt"), col("peer")).as("bj"),
        col("salt"), col("vec_id"), col("u"))
  }

  /** (vec_id, u, cell) with each vector in its `nAssign` nearest cells
    * — [[assignCells]] over the cached centroids, pinned because both
    * join sides of the pair stage read it. Exposed for the spec's
    * candidate-volume accounting.
    */
  private[graft] def semanticAssignments(s: SparkSession, d: String,
      cells: Int, nAssign: Int): DataFrame =
    // seed = "rank" PINNED: SemDeDup's pair-recall floor (0.868 at
    // sf0.1, 4-assign) was tuned for its deliberately coarse few-cell geometry
    // under rank seeding; round 10's k-means++ default reshaped those
    // 32 cells and pair recall fell to 0.708 in the full bench. Search
    // wants tight cells (finer quantization = higher recall); dedup
    // wants both members of a pair in ONE cell, where the seed spread
    // that helps search HURTS — so the two families pin their own
    // seeding like they already pin their own cell counts.
    assignCells(normalized(s, d),
      trainedCentroids(s, d, cells, IvfIters, seed = "rank"), nAssign)
      .pinned()

  // -------------------------------------------------------- PQ variant

  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search"): split each vector into PqM subvectors,
  // vector-quantize each subspace to PqK centroids, store each vector
  // as PqM small codes — PqM·log2(PqK) bits, i.e. 8 × 5 bits = 5 bytes
  // per 64-dim vector at the shipped k=32, a ~51× compression over
  // float32 (k=16's 4-byte/64× figure retired with the round-7
  // retune). Queries score candidates with
  // asymmetric distance computation (ADC): per-subspace lookup tables
  // of query·centroid dots, summed over the codes — no full vector is
  // touched until the exact rerank of a small shortlist.
  private[operators] val PqM = 8
  // Codebook size per subspace. Retuned round 7 via RecallSweep's
  // pq:<k>:<rerank%> mode (measured at sf0.1, same 10% rerank):
  // k=16 → recall 0.67 (warm 1.1s), k=32 → 0.89 (1.3s), k=64 → 0.93
  // (1.8s), k=256 → 1.00 (but 16× the assignment FLOPs of k=16 —
  // 22.9s cold). k=32 buys +0.22 recall for +18% warm serving cost
  // (5-bit codes); past it the recall/cost slope collapses. The
  // standard k=256 (Jégou 2011) remains the right call when the
  // serving path is the PERSISTED index (assignment is build-time
  // there), which is why the knob is now a parameter.
  private val PqK = 32
  private val PqIters = 3
  // Exact-rerank shortlist: max(floor, frac·N). A FIXED shortlist decays
  // as the corpus grows — the round-5 bench recall artifact caught
  // exactly that (fixed 50 = 10% of the 500-vector sf0.01 corpus →
  // recall 0.67, but 2.5% of sf0.1's 2000 → 0.37): on this
  // weakly-clustered corpus ADC ranks true neighbors into the top ~10%,
  // so the shortlist must track the corpus, not a constant. The
  // fraction is the serving-cost knob (rerank reads frac·N full vectors
  // per query); a 100 TB store caps it absolutely and buys recall back
  // with better codebooks (more PqK / OPQ rotation) instead.
  private val PqRerankMin = 50
  // Round-13 retune (RecallSweep pq:<k>:<rerank%> at sf0.1): 0.10 →
  // recall 0.89, 0.12 → 0.91, 0.15 → 0.92 at ~equal warm serve wall
  // (1.7s vs the 2.0s served baseline — the rerank reads frac·N full
  // vectors, and at this corpus the extra 5% is noise next to the ADC
  // scan). k=64 codebooks reach 0.93 but at 2× assignment FLOPs;
  // widening the shortlist is the cheaper +0.03. The composed IVFPQ
  // path shares this knob (its rerank budget is deliberately frac·N,
  // not probed-proportional), so both families clear the 0.90 floor.
  private val PqRerankFrac = 0.15

  /** (vec_id, m, sv): the PqM subvectors of every normalized vector. */
  private[operators] def subvectors(v: DataFrame, dim: Int): DataFrame = {
    // Fail loudly on a non-divisible dimension: integer division below
    // would silently drop the trailing dim % PqM components from PQ
    // assignment and ADC scoring, quietly degrading recall.
    require(dim % PqM == 0,
      s"PQ requires embedding dim divisible by PqM=$PqM, got $dim")
    val sub = dim / PqM
    v.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
      slice(col("u"), m * sub + 1, sub)): _*)).as(Seq("m", "sv")))
  }

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest-centroid code per (vector, subspace) against a broadcast
    * (m, cell, cu) codebook — ties to the smallest cell. min_by folds
    * the argmin into the aggregate so the PqK-way candidate fan-out
    * collapses MAP-SIDE; a window row_number would shuffle and sort all
    * N·PqM·PqK scored rows instead of N·PqM.
    */
  private[operators] def pqAssign(sv: DataFrame, cent: DataFrame): DataFrame =
    sv.join(broadcast(cent), Seq("m"))
      .withColumn("d2", l2(col("sv"), col("cu")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      .select(col("vec_id"), col("m"), col("cell"))

  // Trained PQ codebooks, keyed like the IVF cache (plus the codebook
  // size k, so RecallSweep's tuned variants don't evict the shipped
  // model): model state is PqM × k × (dim/PqM) doubles on the driver.
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String, Int), Seq[(Int, Long, Seq[Double])]]

  /** All-subspace Lloyd training in ONE distributed pass per iteration:
    * the (vec_id, m, sv) frame assigns against the full (m, cell)
    * codebook at once, and the update is a single grouped DECIMAL mean
    * over (m, cell, component) — deterministic across partitionings,
    * like the IVF trainer. Seeds are the first PqK non-query vectors'
    * subvectors.
    */
  private def trainPq(s: SparkSession, d: String,
      k: Int): Seq[(Int, Long, Seq[Double])] = {
    import s.implicits._
    val v = normalized(s, d)
    val dim = corpusDim(s, d)
    val sv = subvectors(v, dim).persist()
    // Rank-based seeding — see trainCentroids: the id-range form
    // silently under-seeds (or empties) the codebook on sparse-id
    // corpora; identical picks on dense ids.
    var cent = sv.join(seedRanks(v, k).select("vec_id", "cell"), "vec_id")
      .select(col("m"), col("cell"), col("sv").as("cu"))
    for (_ <- 1 to PqIters) {
      val comp = pqAssign(sv, cent)
        .join(sv, Seq("vec_id", "m"))
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("m", "cell", "i")
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("mu"))
      val next = comp.groupBy("m", "cell")
        .agg(array_sort(collect_list(struct(col("i"), col("mu")))).as("sm"))
        .select(col("m"), col("cell"),
          transform(col("sm"), e => e.getField("mu")).as("cu"))
        .as[(Int, Long, Seq[Double])].collect()
        .sortBy { case (m, c, _) => (m, c) }
      cent = next.toSeq.toDF("m", "cell", "cu")
    }
    val out = cent.as[(Int, Long, Seq[Double])].collect()
      .sortBy { case (m, c, _) => (m, c) }.toSeq
    sv.unpersist()
    out
  }

  /** ANN via product quantization + ADC + exact rerank: corpus vectors
    * participate only through their PqM·log2(PqK)-bit codes until the
    * final [[PqRerankFrac]]-fraction exact pass. The ADC join is
    * codes ⨝ broadcast(query tables) — the shuffle after the map-side
    * partial sum carries one (query, vec) row per candidate, and the
    * lookup tables are queries × PqM × PqK rows (tiny, broadcast). At
    * 100 TB the codes table IS the serving index: ~51× smaller than
    * the vectors at the shipped k=32, scanned linearly, with the full
    * vectors fetched only for the shortlist. Approximate by construction → spec floor vs the
    * exact baseline, rows-only driver check.
    */
  def annTopkPq(s: SparkSession, d: String): DataFrame = {
    val cent = trainedPqCodebooks(s, d)
    val v = normalized(s, d)
    val dim = corpusDim(s, d)
    pqSearch(s, d, cent, pqAssign(subvectors(v, dim), cent))
  }

  /** The cached trained PQ codebooks as a (m, cell, cu) frame — the one
    * eviction-hooked lookup every PQ consumer (flat search, composed
    * IVFPQ, [[VectorIndex.build]]) goes through.
    */
  private[operators] def trainedPqCodebooks(s: SparkSession, d: String,
      k: Int = PqK): DataFrame = {
    import s.implicits._
    graft.ContextCaches.evictOnStop(s.sparkContext, "pq-codebooks")(() =>
      pqCache.filterInPlace { case ((c, _, _), _) => c ne s.sparkContext })
    pqCache.getOrElseUpdate((s.sparkContext, d, k), trainPq(s, d, k))
      .toDF("m", "cell", "cu")
  }

  /** Dev/measurement hook (RecallSweep): flat PQ search with an
    * explicit codebook size and rerank fraction — the two knobs the
    * recall/serving-cost tradeoff turns on. The shipped defaults stay
    * [[PqK]]/[[PqRerankFrac]]; this exists so changing them is a
    * measured decision, like the IVF retune.
    */
  private[graft] def annTopkPqTuned(s: SparkSession, d: String,
      k: Int, frac: Double): DataFrame = {
    val cent = trainedPqCodebooks(s, d, k)
    val v = normalized(s, d)
    pqSearch(s, d, cent, pqAssign(subvectors(v, corpusDim(s, d)), cent),
      rerankN = Some(rerankBudget(corpusCount(s, d), frac)))
  }

  /** ANN via the composed IVF+PQ index — the IVFADC architecture
    * (Jégou et al. 2011 §IV; FAISS's IVFPQ), i.e. the shape a 100 TB
    * vector store actually serves: the coarse quantizer (the trained
    * [[ivfCells]] centroids) restricts each query to its
    * [[ivfProbes]] nearest cells' members, the compact PQ codes score
    * ONLY those candidates via ADC lookup tables, and the exact rerank
    * keeps flat PQ's corpus-proportional budget ([[PqRerankFrac]]·N,
    * min [[PqRerankMin]]). Per-query serving cost vs flat PQ: the CODE
    * scan drops 4× (probes/cells = 25% of the codes table, and at
    * 100 TB the cell id is the codes table's partition key so the probe
    * is a partition-pruned scan); the rerank budget is deliberately NOT
    * scaled down with it — a probed-proportional shortlist (10% of the
    * probed set = 50 vectors at sf0.1) measured recall 0.39, re-proving
    * the round-5 PQ lesson that the ADC ordering on this
    * weakly-clustered corpus needs the full frac·N shortlist to recover
    * true neighbors. Reuses both cached models (coarse centroids +
    * codebooks); no new training. Approximate by construction → spec
    * floor vs the exact baseline, rows-only driver check, recall in
    * the bench artifact.
    */
  def annTopkIvfPq(s: SparkSession, d: String): DataFrame =
    annTopkIvfPqTuned(s, d, 0)

  /** Dev/measurement hook (RecallSweep's ivfpq:<probes> mode): the
    * composed index with an explicit coarse probe count — the knob the
    * coarse-stage recall cap turns on. probes = 0 derives the shipped
    * scan-fraction config.
    */
  private[graft] def annTopkIvfPqTuned(s: SparkSession, d: String,
      probes: Int): DataFrame = {
    val pqCent = trainedPqCodebooks(s, d)
    val v = normalized(s, d)
    val dim = corpusDim(s, d)
    pqSearch(s, d, pqCent, pqAssign(subvectors(v, dim), pqCent),
      Some(ivfPqCandidates(s, d, probes)))
  }

  /** (query_id, ccell): each (query_id, qu) row's `probes` nearest
    * coarse cells against an arbitrary (cell, cu) centroid table —
    * shared by the in-session IVFPQ query and [[VectorIndex.topk]].
    */
  private[operators] def probeCellsOf(qn: DataFrame, coarse: DataFrame,
      probes: Int): DataFrame =
    qn.crossJoin(broadcast(coarse))
      .withColumn("cs", dot(col("qu"), col("cu")))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cs").desc, col("cell"))))
      .filter(col("rn") <= probes)
      .select(col("query_id"), col("cell").as("ccell"))

  private def queryProbeCells(s: SparkSession, d: String,
      coarse: DataFrame, probes: Int): DataFrame =
    probeCellsOf(normalized(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu")), coarse,
      probes)

  /** (query_id, vec_id): the coarse-stage candidate set — corpus
    * members of each query's probed cells. Exposed for the spec's
    * scan-fraction accounting.
    */
  private[graft] def ivfPqCandidates(s: SparkSession, d: String,
      probes: Int = 0): DataFrame = {
    // The composed index is built on SINGLE corpus assignment: with
    // spill (nAssign > 1) a candidate pair would appear once per shared
    // probed cell, duplicate its code rows through the ADC join, and be
    // silently DROPPED by the nm === PqM guard. Fail loudly if the IVF
    // spill knob is ever turned so this path is redesigned (probe-side
    // spill), not silently diverged from.
    require(IvfCorpusAssign == 1,
      "IVFPQ candidate generation assumes single corpus assignment")
    val cells = ivfCells(s, d)
    val coarse = trainedCentroids(s, d, cells, IvfIters)
    val p = if (probes > 0) probes else ivfPqProbes(cells, corpusCount(s, d))
    val assign = assignCells(normalized(s, d), coarse)
      .select(col("vec_id"), col("cell").as("ccell"))
    assign.join(broadcast(queryProbeCells(s, d, coarse, p)), Seq("ccell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** ADC + rerank over given codebooks and codes — shared by the flat
    * and composed-IVFPQ in-session queries.
    * `restrict` (query_id, vec_id), when present, limits ADC scoring to
    * those candidate pairs (the IVF coarse stage); `rerankN` overrides
    * the shortlist size (the composed index reranks a fraction of the
    * PROBED set, not of the whole corpus).
    */
  private def pqSearch(s: SparkSession, d: String, cent: DataFrame,
      codes: DataFrame, restrict: Option[DataFrame] = None,
      rerankN: Option[Long] = None): DataFrame = {
    val v = normalized(s, d)
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    pqSearchFrames(q, v, corpusDim(s, d), cent, codes, restrict,
      rerankN.getOrElse(rerankBudget(corpusCount(s, d))))
  }

  /** The exact-rerank shortlist size for an `n`-vector corpus. */
  private[operators] def rerankBudget(n: Long,
      frac: Double = PqRerankFrac): Long =
    math.max(PqRerankMin.toLong, math.ceil(n * frac).toLong)

  /** The frame-level ADC + rerank: arbitrary (query_id, qu) queries
    * against arbitrary (vec_id, u) rerank vectors — shared by the
    * corpus-query paths above and [[VectorIndex.topk]].
    */
  private[operators] def pqSearchFrames(q: DataFrame, vecs: DataFrame,
      dim: Int, cent: DataFrame, codes: DataFrame, restrict: Option[DataFrame],
      rerankN: Long): DataFrame = {
    val tables = subvectors(
      q.select(col("query_id").as("vec_id"), col("qu").as("u")), dim)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qsv"))
      .join(cent, Seq("m"))
      .select(col("query_id"), col("m"), col("cell"),
        dot(col("qsv"), col("cu")).as("w"))
    val scored = restrict match {
      // Unrestricted: every code row fans out to every query's table
      // row for its (m, cell) — the flat PQ scan.
      case None => codes.join(broadcast(tables), Seq("m", "cell"))
      // Restricted: candidates pick up their codes (shuffle on vec_id,
      // PqM rows each), then the broadcast table lookup keys on
      // (query_id, m, cell) so each candidate scores only against ITS
      // query — the IVFADC shape: non-probed cells' codes never join.
      case Some(cand) => codes.join(cand, Seq("vec_id"))
        .join(broadcast(tables), Seq("query_id", "m", "cell"))
    }
    val adc = scored
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("w")).as("adc"), count(lit(1)).as("nm"))
      // only vectors scored in ALL subspaces (always true, defensive)
      .filter(col("nm") === PqM)
    val shortlist = adc.withColumn("rn",
      row_number().over(Window.partitionBy("query_id")
        .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("rn") <= rerankN)
      .select(col("query_id"), col("vec_id"))
    topK(shortlist
      .join(vecs, "vec_id")
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r6(dot(col("qu"), col("u"))).as("cos")))
  }

  /** k-means++ seeding, deterministic and scale-bounded: a
    * md5-hash-ordered sample of the corpus (fixed [[SeedSampleN]]
    * vectors — driver state is bounded however large the corpus, the
    * same contract as the trained model itself) is collected, and
    * centers are drawn by the true k-means++ rule — each next center
    * chosen with probability ∝ d²(x) (squared chord 2 − 2·cos to the
    * nearest chosen center). NOT pure farthest-point/maximin: that
    * variant chases outliers (measured on this corpus: maximin 0.70 vs
    * rank 0.75 recall at 128/32) — the d² WEIGHTING is what balances
    * spread against density. The "random" draw is the
    * Efraimidis–Spirakis weighted choice argmax ln(u)/w with
    * u = md5(vec_id, round) uniform — fully deterministic, so the
    * trained model stays reproducible across runs and partitionings
    * like every other model in this file.
    */
  private[graft] val SeedSampleN = 4096
  private def seedPlusPlus(s: SparkSession, v: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val smp = v.filter(col("vec_id") >= NumQueries)
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(math.max(SeedSampleN, 4 * k))
      .select(col("vec_id"), col("u")).as[(Long, Seq[Double])].collect()
    require(smp.nonEmpty,
      "centroid training needs at least one non-query vector " +
        s"(vec_id >= $NumQueries) in the corpus")
    val ids = smp.map(_._1)
    val xs = smp.map(_._2.toArray)
    val kk = math.min(k, xs.length)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // Deterministic uniform in (0,1) keyed by (vec_id, draw round):
    // splitmix64 finalizer (public-domain mixing constants) over the
    // pair. One mix per (point, round) — an earlier MD5-per-draw form
    // spent ~67M digests (k·|sample|) dominating the whole 4096-cell
    // training at the 10× smoke scale.
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unif(id: Long, round: Int): Double =
      ((mix64(mix64(id) ^ round.toLong) >>> 11) + 1).toDouble /
        (1L << 53).toDouble
    val chosen = new Array[Int](kk)
    chosen(0) = 0 // minimum-hash vector (the sample is hash-ordered)
    val dist = xs.map(x => 2.0 - 2.0 * dot(x, xs(0)))
    var c = 1
    while (c < kk) {
      // argmax ln(u)/d² — the weighted-sampling key; d² = 0 (duplicate
      // of a chosen center) gives -inf and is never picked.
      var best = -1
      var bestKey = Double.NegativeInfinity
      var i = 0
      while (i < xs.length) {
        if (dist(i) > 0) {
          val key = math.log(unif(ids(i), c)) / dist(i)
          if (key > bestKey || (key == bestKey && best >= 0 &&
              ids(i) < ids(best))) { bestKey = key; best = i }
        }
        i += 1
      }
      if (best < 0) {
        // every remaining sample point duplicates a center — reuse the
        // first center to fill the codebook (empty cells are harmless)
        chosen(c) = chosen(0)
      } else {
        chosen(c) = best
        val cx = xs(best)
        i = 0
        while (i < xs.length) {
          val dd = 2.0 - 2.0 * dot(xs(i), cx)
          if (dd < dist(i)) dist(i) = dd
          i += 1
        }
      }
      c += 1
    }
    chosen.zipWithIndex
      .map { case (idx, cell) => (ids(idx), cell.toLong, smp(idx)._2) }
      .toSeq.toDF("vec_id", "cell", "u")
  }

  /** The first `k` non-query vectors in id order with dense ranks
    * 0..k-1 — the deterministic seed set both trainers (IVF Lloyd, PQ
    * codebooks) draw from. Fails loudly on an effectively-empty corpus
    * instead of letting an empty seed frame train an empty model that
    * only surfaces (if ever) as an unreadable index directory.
    */
  private def seedRanks(v: DataFrame, k: Int): DataFrame = {
    val seeds = v.filter(col("vec_id") >= NumQueries)
      .orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("u"),
        (row_number().over(Window.orderBy("vec_id")) - 1)
          .cast("long").as("cell"))
    require(!seeds.isEmpty,
      "centroid training needs at least one non-query vector " +
        s"(vec_id >= $NumQueries) in the corpus")
    seeds
  }

  private def trainCentroids(s: SparkSession, d: String,
      cells: Int, iters: Int,
      seed: String = IvfSeeding): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    val v = normalized(s, d)
    // Seeding ("rank", the pre-round-10 default): the first `cells`
    // non-query vectors in id ORDER — rank-based, not the id RANGE
    // [NumQueries, NumQueries+cells): a corpus with sparse or arbitrary
    // vec_ids (an index built on a filtered sub-corpus, a pct-split
    // drift probe) would silently seed fewer cells than requested — or
    // NONE — under the range form (round-9 sweep found exactly that: an
    // empty codebook written to disk with no error). For dense-id
    // corpora the two forms pick the same vectors, so shipped models
    // are bit-unchanged. The rank window runs over `cells` rows (the
    // limit applies first) — tiny. "maximin" is the k-means++-style
    // spread seeding — see [[seedMaximin]].
    var cent = (seed match {
      case "kmeanspp" => seedPlusPlus(s, v, cells)
      case "rank" => seedRanks(v, cells)
      case other => sys.error(s"unknown IVF seeding '$other'")
    }).select(col("cell"), col("u").as("cu"))
    // Lloyd refinement: assign → exact per-component means → renormalize.
    for (_ <- 1 to iters) {
      val comp = assignCells(v, cent)
        .select(col("cell"), posexplode(col("u")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
      val newCent = comp.groupBy("cell")
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("sm"))
        .select(col("cell"),
          transform(col("sm"), e => e.getField("m")).as("c0"))
        .withColumn("nrm",
          sqrt(aggregate(col("c0"), lit(0.0), (a, x) => a + x * x)))
        .select(col("cell"), transform(col("c0"), x => x / col("nrm")).as("cu"))
      // Centroids are model state (cells × dim doubles — what spark.ml
      // KMeans also keeps on the driver): collect and re-inject as a
      // local relation. Each iteration's lineage is cut and nothing
      // needs persist, so repeated plan constructions leak no cache
      // entries. The DECIMAL means above already make the values
      // partition-order-independent; sorting by cell makes the collected
      // relation deterministic too.
      cent = newCent.as[(Long, Seq[Double])].collect().sortBy(_._1)
        .toSeq.toDF("cell", "cu")
    }
    cent.as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  /** Per-label embedding centroids (the class-prototype computation
    * behind centroid classifiers, cluster summaries, and IVF-style
    * coarse quantizers), emitted at the (label, component) grain.
    * Component means accumulate in DECIMAL — the same
    * partition-order-independence argument as [[trainCentroids]] — so
    * the result is bit-stable across partitionings. One explode + one
    * grouped aggregation with map-side partial combine: the shuffle
    * carries labels × dim partial sums, not vectors, at any corpus
    * scale.
    */
  private def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos0", "x")))
      .groupBy("label", "pos0")
      .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
        count(lit(1))).as("m"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), (col("pos0") + 1).as("pos"), r6(col("m")).as("c"),
        col("n_vecs"))

  // Corpus-size cutoff for the broadcast 1-NN kernel: beyond this many
  // vectors the corpus no longer fits one broadcast and the SAME argmax
  // runs tiled over broadcast-sized blocks.
  private val KnnTileVectors = 200000L

  /** Exact 1-NN self-join: every corpus vector's single nearest
    * neighbor by cosine. Within broadcast range ([[KnnTileVectors]])
    * the corpus side is broadcast and scored with the codegen'd native
    * dot product; the per-vector argmax folds in the aggregate itself
    * (max over (cos, -neighbor) structs), so partial aggregation
    * collapses each vector's candidates MAP-SIDE — the shuffle carries
    * one row per vector, never the N² scored pairs. Beyond the cutoff
    * the query dispatches to [[knnSelfTiled]] — argmax is associative,
    * so tiling composes exactly (spec-asserted bit-equal). Ties break
    * to the smallest neighbor id on the round6 cosine, mirroring the
    * oracle's rank order.
    */
  private def knnSelf(s: SparkSession, d: String): DataFrame = {
    val n = corpusCount(s, d)
    if (n <= KnnTileVectors) knnSelfBroadcast(s, d)
    else knnSelfTiled(s, d, math.ceil(n.toDouble / KnnTileVectors).toInt)
  }

  private[graft] def knnSelfBroadcast(s: SparkSession, d: String): DataFrame = {
    val v = normalized(s, d)
    val c = v.select(col("vec_id").as("nid"), col("u").as("nu"))
    mergeBestNeighbor(v.join(broadcast(c), col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"),
        r6(dot(col("u"), col("nu"))).as("cos")))
  }

  /** Final argmax over (cos, -nid) — associative, so it merges raw
    * candidates (broadcast path) and per-tile winners (tiled path)
    * identically; the partial phase collapses map-side either way.
    */
  private def mergeBestNeighbor(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max_by(struct(col("cos"), col("nid")),
        struct(col("cos"), (-col("nid")).as("neg"))).as("b"))
      .select(col("vec_id"), col("b.nid").as("neighbor_id"),
        col("b.cos").as("cos"))

  /** Tiled exact 1-NN — the 100 TB path (the
    * [[Dedup.blockedCosinePairsTiled]] pattern): split the vec_id
    * domain into `tiles` broadcast-sized blocks; per tile, broadcast
    * the block and stream the WHOLE corpus past it in one mapPartitions
    * job, emitting each probe vector's best neighbor WITHIN the tile —
    * one row per (probe, tile), never the N²/tiles scored pairs. Tile
    * winners append to warehouse-FS scratch straight from the
    * executors; a final one-row-per-vector argmax merges them. Exact:
    * every candidate lands in exactly one tile and argmax over
    * (cos, -nid) is associative. The kernel's arithmetic matches the
    * composed plan's (ascending-index dot over the same normalized
    * arrays, then HALF_UP round6), so the result is bit-equal to
    * [[knnSelfBroadcast]] — spec-asserted. Driver and block managers
    * hold at most ONE tile's vectors at a time.
    */
  private[graft] def knnSelfTiled(s: SparkSession, d: String,
      tiles: Int): DataFrame = {
    import s.implicits._
    val vDf = normalized(s, d)
    val v = vDf.as[(Long, Array[Double])]
    val cuts =
      if (tiles <= 1) Array.empty[Double]
      else vDf.stat.approxQuantile(
        "vec_id", (1 until tiles).map(_.toDouble / tiles).toArray, 0.001)
    val bounds = (Long.MinValue +: cuts.toSeq.map(_.toLong) :+
      Long.MaxValue).distinct.sliding(2).toSeq
    val scratch = TileScratch.newDir(s, "knn-tiles")
    bounds.foreach { case Seq(lo, hi) =>
      val tile = vDf.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(tile)
      try v.mapPartitions { it =>
        val bv = bc.value
        it.flatMap { case (id, u) =>
          var bestN = -1L
          var bestC = Double.NegativeInfinity
          var j = 0
          while (j < bv.length) {
            val (nid, nu) = bv(j)
            if (nid != id) {
              var dp = 0.0
              var i = 0
              while (i < u.length) { dp += u(i) * nu(i); i += 1 }
              val c = Dedup.round6d(dp)
              if (c > bestC || (c == bestC && nid < bestN)) {
                bestC = c; bestN = nid
              }
            }
            j += 1
          }
          if (bestN >= 0) Iterator.single((id, bestN, bestC))
          else Iterator.empty
        }
      }.toDF("vec_id", "nid", "cos")
        .write.mode("append").parquet(scratch)
      finally bc.destroy()
    }
    // Explicit schema: a single-vector corpus leaves no data files.
    mergeBestNeighbor(s.read
      .schema("vec_id BIGINT, nid BIGINT, cos DOUBLE").parquet(scratch))
  }

  // ------------------------------------------- embedding diagnostics

  /** Embedding-health diagnostic: per-dimension moments of the
    * NORMALIZED corpus — the pre-flight check every embedding store
    * needs before quantizer/index design (a collapsed dimension means a
    * broken encoder; wildly unbalanced variance means PQ subspaces
    * should be rebalanced by an OPQ rotation, Ge et al. CVPR 2013).
    * One explode + one map-side-combinable aggregate over (dim) keys:
    * at 100 TB this is a single corpus pass shuffling dim×partials
    * rows. Moments accumulate in DECIMAL so the oracle comparison is
    * exact.
    */
  private def dimStats(s: SparkSession, d: String): DataFrame = {
    val n = count(lit(1))
    // 38,18 precision, not dsum's 38,6: components are ~1/√dim and
    // their squares ~1/dim, so 6 decimals would round the accumulator
    // itself, not just the output (same contract as the codebook
    // means in trainPq).
    def d18(c: Column) = sum(c.cast("decimal(38,18)")).cast("double")
    normalized(s, d)
      .select(posexplode(col("u")).as(Seq("pos0", "x")))
      .groupBy((col("pos0") + 1).cast("int").as("pos"))
      .agg(
        r6(d18(col("x")) / n).as("mu"),
        r6(d18(col("x") * col("x")) / n -
          (d18(col("x")) / n) * (d18(col("x")) / n)).as("var_pop"),
        r6(min(col("x"))).as("mn"),
        r6(max(col("x"))).as("mx"))
  }

  /** Eigenvalues (descending) of the normalized corpus' covariance —
    * the anisotropy measurement behind the round-8 OPQ go/no-go (see
    * SURVEY §14): an isotropic spectrum means a learned PQ rotation
    * cannot improve subspace balance, so the complexity is not bought.
    * The d×d Gram matrix accumulates distributed in DECIMAL (same
    * exactness contract as the codebook means; the (i,j) fan-out is
    * N·d² rows of partial products, shuffled as d² aggregate keys);
    * the eigendecomposition runs on the driver over the d×d result —
    * model-sized linear algebra, the same boundary the k-means
    * centroids live at.
    */
  private[graft] def embeddingSpectrum(s: SparkSession, d: String): Seq[Double] = {
    val dim = corpusDim(s, d)
    val nRows = corpusCount(s, d).toDouble
    val v = normalized(s, d)
    val ex = v.select(col("vec_id"), posexplode(col("u")).as(Seq("i", "xi")))
    // DECIMAL(38,18), not dsum's (38,6): component products of unit
    // vectors are ~1/dim ≈ 0.015, where a 6-decimal accumulator
    // quantizes the TERMS themselves (the dimStats lesson) — 18
    // decimals keeps the Gram sums exact at these magnitudes.
    def d18(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double")
    val gram = ex.join(
        ex.select(col("vec_id"), col("i").as("j"), col("xi").as("xj")),
        "vec_id")
      .groupBy("i", "j")
      .agg(d18(col("xi") * col("xj")).as("sxx"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val mu = ex.groupBy("i").agg(d18(col("xi")).as("sx"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1) / nRows).toMap
    val c = breeze.linalg.DenseMatrix.tabulate(dim, dim) { (i, j) =>
      gram((i, j)) / nRows - mu(i) * mu(j)
    }
    breeze.linalg.eigSym(c).eigenvalues.toArray.toSeq.sorted.reverse
  }

  /** Embedding outlier screen — the label-noise pass a curation
    * pipeline runs over an annotated embedding corpus: cosine of every
    * normalized vector to ITS OWN label centroid; a vector not even
    * positively aligned (cos < 0) is flagged. Scale shape: one
    * posexplode, the centroid table is labels × dim rows (model-sized →
    * broadcast), the per-vector dot product aggregates map-side on
    * vec_id, and the per-label centroid norm is a broadcast scalar.
    * Both the centroid means and the dot products accumulate in
    * DECIMAL(38,18) so the doubles are order-independent and the
    * cos < 0 flag cannot flip between engines (this corpus's weakly
    * clustered geometry puts cos-to-centroid in [-0.24, 0.46] — the
    * flag bites a real fraction).
    */
  private def simOutliers(s: SparkSession, d: String): DataFrame = {
    // No spreadScan (r16, measured): a vec_id spread (which would elide
    // the dot-product aggregate's exchange per guide §2.4) read
    // 1.16/1.19s vs 1.04 baseline in two subset runs — the 5k-row
    // embedding table's explode is too small to out-earn the added
    // array-payload shuffle.
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm",
        sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"), col("label"),
        posexplode(transform(col("e"), x => x / col("nrm")))
          .as(Seq("pos", "x")))
    def dsum18(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double")
    val cent = v.groupBy("label", "pos")
      .agg((dsum18(col("x")) / count(lit(1))).as("c"))
    val cnorm = cent.groupBy("label")
      .agg(sqrt(dsum18(col("c") * col("c"))).as("cn"))
    v.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(dsum18(col("x") * col("c")).as("dp"))
      .join(broadcast(cnorm), "label")
      .select(col("vec_id"), col("label"),
        r6(col("dp") / col("cn")).as("cos_centroid"),
        (col("dp") < 0).as("is_outlier"))
  }

  private val AnnPairKeys = Seq("query_id", "neighbor_id")

  /** The ANN variants and SemDeDup are approximate by construction, so
    * each is checked by id-pair recall against its exact twin.
    */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_outliers", simOutliers _, Oracle(
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x /
        |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |        y -> y * y)))) AS u
        |  FROM embeddings),
        |e AS (SELECT vec_id, label,
        |  unnest(range(1, len(u) + 1)) AS pos, unnest(u) AS x FROM v),
        |c AS (SELECT label, pos,
        |  CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS c
        |  FROM e GROUP BY 1, 2),
        |cn AS (SELECT label,
        |  sqrt(CAST(sum(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS cn
        |  FROM c GROUP BY 1),
        |s AS (SELECT e.vec_id, e.label,
        |  CAST(sum(CAST(e.x * c.c AS DECIMAL(38,18))) AS DOUBLE) AS dp
        |  FROM e JOIN c USING (label, pos) GROUP BY 1, 2)
        |SELECT s.vec_id, s.label, round(dp / cn, 6) AS cos_centroid,
        |  dp < 0 AS is_outlier
        |FROM s JOIN cn USING (label)
        |ORDER BY vec_id""".stripMargin)),
    QuerySpec("sim_dim_stats", dimStats _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x /
        |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |        y -> y * y)))) AS u
        |  FROM embeddings),
        |e AS (SELECT unnest(range(1, len(u) + 1)) AS pos,
        |  unnest(u) AS x FROM v)
        |SELECT CAST(pos AS INT) AS pos,
        |  round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
        |    / count(*), 6) AS mu,
        |  round(CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)
        |    / count(*)
        |    - (CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*))
        |    * (CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*)),
        |    6) AS var_pop,
        |  round(min(x), 6) AS mn, round(max(x), 6) AS mx
        |FROM e GROUP BY pos ORDER BY pos""".stripMargin)),
    QuerySpec("sim_centroids", centroids _, Oracle(
      """WITH e AS (SELECT label,
        |  unnest(range(1, len(embedding) + 1)) AS pos,
        |  unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
        |SELECT label, CAST(pos AS INT) AS pos,
        |  round(sum(x) / count(*), 6) AS c, count(*) AS n_vecs
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin)),
    QuerySpec("sim_knn_self", knnSelf _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x /
        |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |        y -> y * y)))) AS u
        |  FROM embeddings),
        |s AS (SELECT a.vec_id AS vec_id, b.vec_id AS nid,
        |  round(list_dot_product(a.u, b.u), 6) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, nid, cos, row_number() OVER (
        |  PARTITION BY vec_id ORDER BY cos DESC, nid) AS rn FROM s)
        |SELECT vec_id, nid AS neighbor_id, cos FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin),
      growth = Some(Exempt(150.0, 2.0,
        "exact all-pairs self-join: scored pairs grow quadratically " +
          "(100x) by definition; the tiled kernel bounds task size, " +
          "not total work"))),
    QuerySpec("sim_quantize", quantize _, Oracle(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |p AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx,
        |  (list_max(e) - list_min(e)) / 255.0 AS sc FROM v)
        |SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
        |  CASE WHEN sc > 0 THEN CAST(round((e[1] - mn) / sc) AS INT) END AS q1,
        |  CASE WHEN sc > 0 THEN CAST(round((e[2] - mn) / sc) AS INT) END AS q2,
        |  CASE WHEN sc > 0 THEN CAST(round((e[3] - mn) / sc) AS INT) END AS q3,
        |  CASE WHEN sc > 0 THEN CAST(round((e[4] - mn) / sc) AS INT) END AS q4
        |FROM p ORDER BY vec_id""".stripMargin)),
    QuerySpec("ann_topk_exact", annTopkExact _, Oracle(
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x /
         |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)))) AS u
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, u AS qu FROM v WHERE vec_id < $NumQueries),
         |scored AS (SELECT query_id, v.vec_id AS neighbor_id,
         |  round(list_sum(list_transform(range(1, len(qu) + 1), i -> qu[i] * u[i])), 6) AS cos
         |  FROM v CROSS JOIN q WHERE v.vec_id <> query_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INT) AS rnk FROM scored)
         |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin)),
    // Floors: r14 measured 1.00, 0.90, 0.92 and 0.93.
    QuerySpec("ann_topk_lsh", annTopkLsh _,
      Recall("ann_topk_exact", AnnPairKeys, 0.98)),
    QuerySpec("ann_topk_ivf", annTopkIvf _,
      Recall("ann_topk_exact", AnnPairKeys, 0.88)),
    QuerySpec("ann_topk_pq", annTopkPq _,
      Recall("ann_topk_exact", AnnPairKeys, 0.90)),
    QuerySpec("ann_topk_ivfpq", annTopkIvfPq _,
      Recall("ann_topk_exact", AnnPairKeys, 0.91)),
    // r14 measured 0.938.
    QuerySpec("dd_semantic", semanticNearDup _,
      Recall("dd_cosine_neardup", Seq("id_a", "id_b"), 0.918),
      growth = Some(Exempt(30.0, 1.0,
        "near-dup pair OUTPUT grows superlinearly when corpus growth " +
          "densifies the embedding manifold (r12 measured 20x wall at " +
          "10x; the r13 assign/cells retune brought the measured point " +
          "to 2.2x at 10x and 3.6x at 30x, so the linear-scaled bound " +
          "now holds with wide margin)"))))
}
