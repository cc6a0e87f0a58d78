package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted vector index: one directory that serves top-k (or, for
  * `sem`, near-duplicate pairs) with no training and no corpus read —
  * a fresh session, or another cluster, serves at once — and that grows
  * by append without retraining.
  *
  * A one-row `manifest/` (kind, dim) names the kind, so load, append
  * and rebuild learn it from the index:
  *  - `lsh`: sign-bit signatures over the md5 planes. No trained state,
  *    so an appended index equals a build over the union.
  *  - `ivf_flat`: coarse centroids; the probed cells are scored exactly.
  *  - `pq`: PQ codebooks; every code is ADC-scored and a shortlist is
  *    reranked exactly.
  *  - `ivf_pq`: both (IVFADC) — the coarse probe restricts ADC scoring.
  *  - `sem`: rank-seeded coarse centroids with
  *    [[Similarity.SemAssign]]-way assignment; serves SemDeDup pairs.
  *
  * Layout. `vectors/` holds (vec_id, u), plus `sig` for `lsh`, and is
  * partitioned by `ccell` when the kind has a coarse quantizer (one row
  * per assigned cell). It is the exact-rerank tier, the source of the
  * replay check and the rebuild snapshot. `coarse/` (cell, cu) exists
  * for `ivf_flat`, `ivf_pq` and `sem`; `codebooks/` (m, cell, cu) and
  * `codes/` (vec_id, m, cell, and `ccell` for `ivf_pq`) for `pq` and
  * `ivf_pq`. The model tables never change after the build.
  *
  * Every kind is built from the same cached models and kernels as its
  * in-session registry query, so a loaded index answers bit-identically
  * to `ann_topk_lsh`, `ann_topk_ivf`, `ann_topk_pq`, `ann_topk_ivfpq`
  * or `dd_semantic` on the corpus it was built from (spec-asserted).
  */
object VectorIndex {
  import Similarity._

  private val Kinds = Seq("lsh", "ivf_flat", "pq", "ivf_pq", "sem")
  private val Coded = Set("pq", "ivf_pq")

  /** An index loaded for serving: its manifest, its model tables and
    * `n`, the `vectors/` row count. A snapshot of the file listing:
    * load again after an append to serve the appended rows.
    */
  final case class Loaded(kind: String, dim: Int, n: Long,
      vectors: DataFrame, coarse: Option[DataFrame], cells: Int,
      codebooks: Option[DataFrame], codes: Option[DataFrame])

  /** Build a `kind` index over the corpus at `d` into `path`. The models
    * are the session's cached ones, so a build after the registry query
    * trains nothing; training, assignment and encoding are
    * deterministic, so build → load → serve is bit-identical to the
    * session that trained them.
    */
  def build(s: SparkSession, d: String, path: String, kind: String): Unit = {
    import s.implicits._
    require(Kinds.contains(kind),
      s"unknown index kind '$kind' (one of ${Kinds.mkString(", ")})")
    val dim = corpusDim(s, d)
    val coarse = kind match {
      case "ivf_flat" | "ivf_pq" =>
        Some(trainedCentroids(s, d, ivfCells(s, d), IvfIters))
      // rank seeding, as the in-session dd_semantic (semanticAssignments)
      case "sem" =>
        Some(trainedCentroids(s, d, semCells(s, d), IvfIters, seed = "rank"))
      case _ => None
    }
    val codebooks = if (Coded(kind)) Some(trainedPqCodebooks(s, d)) else None
    def model(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$path/$t")
    coarse.foreach(model("coarse", _))
    codebooks.foreach(model("codebooks", _))
    writeRows(normalized(s, d), path, kind, dim, coarse, codebooks,
      "overwrite")
    model("manifest", Seq((kind, dim)).toDF("kind", "dim"))
    // A build never leaves an unservable index behind: load runs the
    // torn-index check.
    require(load(s, path).n > 0, s"build wrote an empty index at $path")
  }

  /** Read the manifest, the model tables and the `vectors/` row count
    * (parquet metadata, no data scan) once; a streaming server serves
    * every micro-batch with the result. Refuses a torn index.
    */
  def load(s: SparkSession, path: String): Loaded = {
    val manifest = s.read.parquet(s"$path/manifest").first()
    val kind = manifest.getAs[String]("kind")
    def table(t: String) = s.read.parquet(s"$path/$t")
    val vectors = table("vectors")
    val n = vectors.count()
    val coarse =
      if (kind == "lsh" || kind == "pq") None
      else Some(table("coarse").select("cell", "cu"))
    val codes = if (Coded(kind)) Some(table("codes")) else None
    codes.foreach(c => requireWhole(path, c.count(), n))
    Loaded(kind, manifest.getAs[Int]("dim"), n, vectors, coarse,
      coarse.fold(0)(_.count().toInt),
      if (Coded(kind)) Some(table("codebooks").select("m", "cell", "cu"))
      else None,
      codes)
  }

  /** Top-k for an external (vec_id, embedding) query batch. Candidates
    * come from the LSH band probe, from the coarse probe, or from every
    * code; coded kinds keep the ADC shortlist; every kind reranks
    * exactly from `vectors/`. A query whose vec_id is in the index is
    * left out of its own answer, as in the registry queries. The probed
    * cells are collected to a literal `ccell` filter (at most
    * queries × probes values, like a predicate a planner inlines), so
    * the scans open only the probed cells' files. Probe width and the
    * rerank budget come from the index's own cell count and `n`, so they
    * track appends. Nothing is pinned: this runs once per micro-batch.
    */
  def topk(queries: DataFrame, ix: Loaded): DataFrame = {
    val qn = normalizeFrame(queries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    // (query_id, ccell) probe rows, and a filter to the probed cells
    def probe(probes: Int): (DataFrame, DataFrame => DataFrame) = {
      val qcells = probeCellsOf(qn, ix.coarse.get, probes)
      val probed = qcells.select("ccell").distinct()
        .collect().map(_.getLong(0)).toSeq
      (qcells, _.filter(col("ccell").isin(probed: _*)))
    }
    ix.kind match {
      case "lsh" =>
        lshSearchWith(ix.vectors, signFrame(normalizeFrame(queries), ix.dim)
          .select(col("vec_id").as("query_id"), col("u").as("qu"), col("sig")))
      case "ivf_flat" =>
        val (qcells, inProbed) = probe(probesFor(ix.cells, ix.n))
        topK(inProbed(ix.vectors).join(broadcast(qcells), Seq("ccell"))
          .filter(col("vec_id") =!= col("query_id"))
          .join(broadcast(qn), Seq("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            r6(dot(col("qu"), col("u"))).as("cos")))
      case "pq" =>
        pqSearchFrames(qn, ix.vectors, ix.dim, ix.codebooks.get,
          ix.codes.get, None, rerankBudget(ix.n))
      case "ivf_pq" =>
        val (qcells, inProbed) = probe(ivfPqProbes(ix.cells, ix.n))
        val codes = inProbed(ix.codes.get)
        // One row per candidate without a distinct: every vector has
        // exactly one m = 0 code.
        val cand = codes.filter(col("m") === 0).select("vec_id", "ccell")
          .join(broadcast(qcells), Seq("ccell"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"))
        pqSearchFrames(qn, inProbed(ix.vectors).select("vec_id", "u"),
          ix.dim, ix.codebooks.get, codes.select("vec_id", "m", "cell"),
          Some(cand), rerankBudget(ix.n))
      case other => throw new IllegalArgumentException(
        s"topk serves lsh, ivf_flat, pq and ivf_pq indexes, not $other")
    }
  }

  /** SemDeDup near-duplicate pairs (id_a, id_b, cos) from a loaded `sem`
    * index: the in-session blocked pair join over the index's own
    * assignments. Pinned: the join reads them on both sides plus the
    * cell-size aggregate, and unpinned the 100× probe measured the
    * serve re-scanning its 1.4 GB of parquet per consumer.
    */
  def pairs(ix: Loaded): DataFrame = {
    require(ix.kind == "sem", s"pairs serves sem indexes, not ${ix.kind}")
    semanticPairsOfBlocked(blockedFrameOf(ix.vectors
      .select(col("ccell").cast("long").as("cell"), col("vec_id"), col("u"))
      .pinned(), SemCellBlock), Dedup.CosTau)
  }

  /** Append a (vec_id, embedding) batch to the index at `path` without
    * retraining: rows are encoded with the build's frozen models and
    * dynamic-partition appends touch only their own cells' files. The
    * trained kinds pay drift for it — their models reflect the build
    * corpus, so recall falls as appends grow (RecallSweep's `append:`
    * and `rebuild:` points) until a [[rebuild]]; `lsh` has no trained
    * state and never drifts.
    *
    * Guards: an empty batch (an idle trigger) is a no-op; a batch whose
    * dimension differs from the manifest's fails. Replays: a row whose
    * vec_id is resident with the same vector is skipped, and a resident
    * vec_id carrying a DIFFERENT vector fails the batch (corruption, not
    * retry). Normalization and encoding are deterministic, so a replayed
    * row is bit-identical to its resident copy, and re-appending an
    * applied batch — an at-least-once source after a crash, or a
    * restarted stream replaying its source — is a committed no-op.
    * Replay identity holds per index generation: a rebuild
    * re-normalizes its residents, so a batch from before the rebuild
    * conflicts with the rebuilt index.
    */
  def append(batch: DataFrame, path: String): Unit = {
    val s = batch.sparkSession
    val ix = load(s, path)
    val v = normalizeFrame(batch)
    val stats = v.agg(count(lit(1)), min(size(col("u"))),
      max(size(col("u")))).first()
    if (stats.getLong(0) == 0) return
    require(stats.getInt(1) == ix.dim && stats.getInt(2) == ix.dim,
      s"append batch dimension ${stats.getInt(1)}..${stats.getInt(2)} " +
        s"does not match index dimension ${ix.dim}")
    // Not pinned: a pin of the index's own (append-target) path could
    // serve a later append the pre-append file list.
    val joined = v.join(ix.vectors
      .select(col("vec_id"), col("u").as("u_res")).dropDuplicates("vec_id"),
      Seq("vec_id"), "left")
    val cls = joined.agg(
      count(when(col("u_res").isNotNull && !(col("u") === col("u_res")), 1)),
      count(when(col("u_res").isNull, 1))).first()
    require(cls.getLong(0) == 0,
      s"append would overwrite ${cls.getLong(0)} resident vec_ids with " +
        "DIFFERENT vectors — not a replay; refusing to corrupt the index")
    if (cls.getLong(1) == 0) return
    writeRows(joined.filter(col("u_res").isNull).drop("u_res"), path,
      ix.kind, ix.dim, ix.coarse, ix.codebooks, "append")
    if (Coded(ix.kind))
      requireWhole(path, s.read.parquet(s"$path/codes").count(),
        s.read.parquet(s"$path/vectors").count())
  }

  /** Retrain the index at `path` on every resident vector (build-time
    * rows plus every append, read from `vectors/`; the corpus is never
    * touched) into a fresh index of the same kind at `out`. The old
    * index is never modified, so its readers stay consistent and
    * serving swaps by repointing. An in-place rebuild is refused, and
    * so is a torn source, whose damage retraining would bake in.
    */
  def rebuild(s: SparkSession, path: String, out: String): Unit = {
    require(java.nio.file.Paths.get(out).normalize() !=
        java.nio.file.Paths.get(path).normalize(),
      "rebuild writes a FRESH index: an in-place rebuild would yank the " +
        "layout out from under concurrent readers — write to a new path " +
        "and repoint serving after the build commits")
    val ix = load(s, path)
    require(ix.n > 0, s"index at $path has no resident vectors")
    // The training snapshot goes to warehouse scratch (deleted at
    // context stop), not into the new index, which would carry the copy
    // forever. Its dir is unique, which keeps the per-dir model caches'
    // immutable-dir contract; `label` only satisfies the embeddings
    // table's schema.
    val corpus = s"${TileScratch.newDir(s, s"rebuild-${ix.kind}")}/corpus"
    ix.vectors.dropDuplicates("vec_id")
      .select(col("vec_id"), col("u").as("embedding"), lit(0L).as("label"))
      .write.parquet(s"$corpus/embeddings.parquet")
    build(s, corpus, out, ix.kind)
  }

  /** Encode normalized (vec_id, u) rows with the models (signature,
    * nearest cells, PQ codes) and write them: codes first and
    * `vectors/` last, so an interrupted write leaves the torn state
    * [[requireWhole]] refuses, never vectors without codes.
    */
  private def writeRows(v: DataFrame, path: String, kind: String,
      dim: Int, coarse: Option[DataFrame], codebooks: Option[DataFrame],
      mode: String): Unit = {
    val rows = coarse match {
      case Some(c) =>
        assignCells(v, c, if (kind == "sem") SemAssign else 1)
          .select(col("vec_id"), col("u"), col("cell").as("ccell"))
      case None => if (kind == "lsh") signFrame(v, dim) else v
    }
    // Cluster by cell before a partitioned write: each cell's rows land
    // in one task and so in one file (unclustered, the 100× sem build
    // wrote cells × tasks files), and a probe opens one file per cell.
    def put(t: String, df: DataFrame): Unit =
      (if (coarse.isEmpty) df.write
       else df.repartition(col("ccell")).write.partitionBy("ccell"))
        .mode(mode).parquet(s"$path/$t")
    codebooks.foreach { cb =>
      val codes = pqAssign(subvectors(v, dim), cb)
      put("codes",
        if (coarse.isEmpty) codes
        else codes.join(rows.select("vec_id", "ccell"), "vec_id"))
    }
    put("vectors", rows)
  }

  /** The torn-index guard: a coded index holds exactly PqM code rows
    * per `vectors/` row. An append writes two directories with no
    * transaction between them, so a crash in between leaves codes that
    * ADC scores but the rerank cannot see. Both counts are parquet
    * metadata reads, cheap enough for every load.
    */
  private def requireWhole(path: String, codes: Long, vectors: Long): Unit =
    require(codes == vectors * PqM,
      s"index at $path is torn: codes has $codes rows but vectors × " +
        s"PqM = ${vectors * PqM} — likely a crashed append (codes " +
        "written, vectors not); repair before serving")
}
