package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus preparation and interchange operators: deterministic
  * hash-gated splits and sampling, shard-parallel training-sequence
  * packing, and the gzip-JSONL / CSV round-trips LLM corpus pipelines
  * exchange. Split out of Extended.scala for maintainability —
  * registry semantics unchanged.
  */
object CorpusOps {

  /** Deterministic train/val/test assignment: md5(doc_id) buckets 0..99 →
    * 80/10/10 split. Hash-based (not seeded-random) so the assignment is
    * stable across engines, re-runs and re-partitioning — the property a
    * reproducible corpus pipeline needs; adding documents never moves an
    * existing one between splits.
    */
  private def ppHashSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise("test")
    Tables.documents(s, d)
      .select(col("lang"), split.as("split"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
  }

  // Round-trip scratch dirs live on the warehouse filesystem (the same
  // rationale as the tiled-cosine scratch: executor-side part writes
  // must land on the shared FS, not driver-local tmp) and are deleted
  // when their context stops. App-id-scoped paths + overwrite mode keep
  // re-runs idempotent within a session.
  private def roundtripScratch(s: SparkSession, leaf: String): String = {
    val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "_graft_scratch"),
      s"$leaf-${s.sparkContext.applicationId}")
    val sc = s.sparkContext
    ContextCaches.evictOnStop(sc, s"roundtrip-$leaf")(() => {
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    })
    p.toString
  }

  /** JSONL corpus round-trip — the interchange format LLM corpus
    * pipelines actually exchange (gzipped JSON lines, one document per
    * line). The query writes the documents table as distributed
    * gzip-JSONL part files and reads it back with an explicit schema;
    * the oracle is the source table itself, so the differential check
    * proves the write→read cycle is lossless byte-for-byte on every
    * field. Scale shape: a distributed write (one part per task, no
    * coalesce) and a parallel scan back — both embarrassingly parallel.
    */
  private def ioJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = roundtripScratch(s, "jsonl")
    Tables.documents(s, d).write.mode("overwrite")
      .option("compression", "gzip").json(dir)
    s.read.schema(Tables.DocumentsSchema).json(dir)
  }

  /** CSV round-trip over the same contract (header, explicit schema on
    * read): exercises quoting/escaping and string↔number re-parse — the
    * K2 export surface upgraded from spec-only to oracle-checked.
    * Known format limitation (inherent to CSV, spec-pinned): an EMPTY
    * string field reads back as null — the wire format cannot
    * distinguish them; JSONL preserves the distinction.
    */
  private def ioCsv(s: SparkSession, d: String): DataFrame = {
    val dir = roundtripScratch(s, "csv")
    Tables.documents(s, d).write.mode("overwrite")
      .option("header", "true")
      // The CSV WRITER defaults both to true and would silently trim
      // padded text fields — the reader defaults to false, so without
      // these the round-trip is lossy exactly for leading/trailing
      // whitespace (spec-pinned alongside the empty→null limitation).
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    // multiLine: the writer quotes embedded newlines, but the DEFAULT
    // reader still splits records on them — a text field with a
    // newline would silently corrupt the round-trip. The cost is
    // per-file (not per-line-split) read parallelism, the correct
    // trade for quoted text columns.
    s.read.schema(Tables.DocumentsSchema)
      .option("header", "true").option("multiLine", "true").csv(dir)
  }

  /** ORC corpus round-trip — the OTHER columnar interchange format a
    * warehouse-adjacent corpus pipeline meets (Hive/Trino tables are
    * routinely ORC). Same contract as the parquet-sourced table: typed
    * columnar write with predicate-pushdown-capable stripes, schema-on
    * read. Unlike CSV there is no lossy edge — empty strings, padding
    * and newlines all survive — so the oracle is simply the source
    * table. Scale shape: distributed stripe writes (one part per task)
    * and a parallel columnar scan back.
    */
  private def ioOrc(s: SparkSession, d: String): DataFrame = {
    val dir = roundtripScratch(s, "orc")
    Tables.documents(s, d).write.mode("overwrite").orc(dir)
    s.read.schema(Tables.DocumentsSchema).orc(dir)
  }

  /** The reference's native input format (headerless whitespace-numeric
    * sensor text) written to disk and read back: lineitem serializes to
    * text, `read.text` splits the files by byte range, and
    * [[graft.Tables.parseText]] (the CMAPSS reader's parser)
    * types the tokens; a quantity filter and a 3-of-5-column projection
    * leave the unused casts for Catalyst to prune, then it aggregates
    * per orderkey bucket. The roundtrip is exact: Spark's double→string
    * is shortest-roundtrip, so the oracle simply recomputes from the
    * parquet table.
    */
  private def ioTextScan(s: SparkSession, d: String): DataFrame = {
    val dir = roundtripScratch(s, "gtext")
    // spreadScan: serializes in parallel AND leaves one text part per
    // task, so the read-back gets one byte-range split per part
    // instead of ⌈24 MB / 16 MiB⌉ = 2 (r15 plan audit: both sides of
    // the roundtrip otherwise ran 1–2 cores).
    spreadScan(Tables.lineitem(s, d), col("l_orderkey"))
      .select(concat_ws(" ", col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .as("value"))
      .write.mode("overwrite").text(dir)
    Tables.parseText(s.read.text(dir), Relational.LineitemTextSchema)
      .filter(col("l_quantity") > 25.0)
      .select((col("l_orderkey") % 7).as("bucket"), col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
  }

  /** Stratified deterministic downsampling: per-language keep rates
    * (the language-rebalancing pass a multilingual corpus pipeline runs
    * before training) applied through the same md5-bucket scheme as
    * [[ppHashSplit]] — bucket 0..999 under rate×1000 keeps the row.
    * Hash-gated, so the sample is reproducible across engines and
    * re-partitionings, membership is stable under corpus growth, and
    * the filter is a pure scan-side predicate (no shuffle, no
    * sampling state). Emits the kept rows; the survival rate per
    * language converges on the configured rate by the hash-uniformity
    * of md5.
    */
  private def ppStratified(s: SparkSession, d: String): DataFrame = {
    val rates = Seq("en" -> 900, "es" -> 700, "de" -> 500, "fr" -> 300,
      "zh" -> 100) // per-mille keep rates
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 5, 4),
      16, 10).cast("long") % 1000
    val rate = rates.foldRight(lit(0): org.apache.spark.sql.Column) {
      case ((l, r), rest) =>
      when(col("lang") === l, lit(r)).otherwise(rest)
    }
    Tables.documents(s, d)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  // Sequence packing geometry: 2048-token training sequences, 16
  // parallel pack shards.
  private val PackSeqLen = 2048

  private val PackShards = 16

  /** Training-sequence packing — the last hop before an LLM consumes
    * the corpus: documents are concatenated in order and split at
    * fixed [[PackSeqLen]]-token boundaries (the concat-then-split
    * scheme GPT-style pretraining uses). Packing is inherently
    * sequential, so it runs per SHARD: documents hash into
    * [[PackShards]] deterministic shards (md5 of doc_id, stable under
    * corpus growth), and within a shard a running-total window assigns
    * each document its sequence index and offset. One window pass per
    * shard — shards pack in parallel and no shard ever sees another's
    * state; a global pack would serialize the corpus through one
    * partition. Offsets/indices are pure integer arithmetic on the
    * cumulative sum: deterministic and oracle-checkable.
    */
  private def ppPack(s: SparkSession, d: String): DataFrame =
    packDocs(Tables.documents(s, d))

  private[graft] def packDocs(docs: DataFrame): DataFrame = {
    require((PackSeqLen & (PackSeqLen - 1)) == 0,
      "PackSeqLen must be a power of two (bitwise split below)")
    val shard = conv(substring(md5(col("doc_id").cast("string")), 13, 4),
      16, 10).cast("long") % PackShards
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), shard.as("shard"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // PackSeqLen is a power of two, so the split is exact bitwise
      // arithmetic — a double-pathed division would go off-by-one once
      // a shard's cumulative count passes 2^53 (the scaleKey lesson).
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        shiftright(col("cum") - col("n_tokens"),
          java.lang.Long.numberOfTrailingZeros(PackSeqLen)).as("seq_idx"),
        (col("cum") - col("n_tokens")).bitwiseAND(lit(PackSeqLen - 1L))
          .as("seq_offset"))
  }

  /** Spec hook: pack only the doc_id prefix (growth-stability proof —
    * per-shard ordering is by doc_id, so appending docs never moves an
    * existing one).
    */
  private[graft] def packPrefixForSpec(s: SparkSession, d: String,
      cut: Long): DataFrame =
    packDocs(Tables.documents(s, d).filter(col("doc_id") <= cut))

  // Per-source token budget for the quota sampler (tokens, not docs —
  // the unit a pretraining mix is specified in).
  private val SourceTokenBudget = 800L

  /** Token-budget quota sampling — cap each source's contribution at
    * [[SourceTokenBudget]] tokens (the Pile/Dolma-style mixing step
    * where domain weights are token budgets, not document counts).
    * Documents are admitted in a deterministic hash order (md5 slice
    * 17..20 of doc_id — independent of the split/stratify/pack slices)
    * until the source's running token total passes the budget; a doc is
    * kept iff it STARTS within budget. The admission order is the hash,
    * so the sample is reproducible and unbiased by doc_id assignment;
    * the gate arithmetic is pure int64 and bit-identical across
    * engines (quota sampling is inherently order-sensitive under
    * growth — new docs with earlier hashes displace later ones, which
    * is the documented semantics of a fixed budget). Scale
    * shape: one window pass per source partition — same parallelism
    * story as packing (sources fill in parallel); a skew-prone giant
    * source costs one sorted partition, which is the semantics' price,
    * and the admitted prefix is budget-bounded regardless of source
    * size.
    */
  private def ppTokenBudget(s: SparkSession, d: String): DataFrame = {
    val ord = conv(substring(md5(col("doc_id").cast("string")), 17, 4),
      16, 10).cast("long")
    val w = Window.partitionBy("source").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        ord.as("ord"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < SourceTokenBudget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  // Fixed-size per-source sample: exactly k docs (or all, if fewer).
  private val FixedK = 8

  /** Deterministic fixed-k-per-source sampling — the "exactly k eval
    * documents per domain" step (the third member of the sampling
    * family: [[ppStratified]] samples by RATE, [[ppTokenBudget]] by
    * token BUDGET, this one by COUNT). Rank docs per source by an
    * independent md5 slice (21..24) and keep rank ≤ k: reproducible,
    * unbiased by doc_id assignment, and — unlike rate sampling — the
    * output size is exact under any source-size skew. One row_number
    * window per source partition; the admitted set is k-bounded per
    * source regardless of corpus growth.
    */
  private def ppFixedK(s: SparkSession, d: String): DataFrame = {
    val ord = conv(substring(md5(col("doc_id").cast("string")), 21, 4),
      16, 10).cast("long")
    val w = Window.partitionBy("source").orderBy("ord", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), ord.as("ord"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= FixedK)
      .select("doc_id", "source", "lang", "rank")
  }

  /** Benchmark decontamination — remove eval-set leakage from the
    * training corpus before an LLM ever sees it: a training document is
    * contaminated if it shares ANY word 5-gram with the held-out
    * benchmark split. The splits reuse [[ppHashSplit]]'s md5 buckets
    * (train = bucket < 80, benchmark = bucket >= 90), i.e. this is the
    * decontamination pass a pipeline runs between splitting and packing.
    * Scale shape: the benchmark side is the held-out set — thousands of
    * docs, bounded by construction — so its distinct gram digests
    * BROADCAST; the training side streams once through the hash join
    * with no shuffle of the corpus itself, and the only aggregation is
    * per contaminated doc (count of distinct shared grams, the evidence
    * a curation report needs). Grams join as fixed-width 8-byte
    * xxhash64 composed digests, not raw strings — at 100 TB the
    * broadcast carries one long per benchmark gram.
    */
  private def ppDecontaminate(s: SparkSession, d: String): DataFrame = {
    // spreadScan: normText + word-hash + 5-gram digest explode
    // otherwise run inside the single-split documents scan on one core
    // for BOTH branches (r15 plan audit).
    val docs = spreadScan(Tables.documents(s, d), col("doc_id"))
      .withColumn("bucket", splitBucket)
    gramDigests(docs.filter(col("bucket") < 80))
      .join(broadcast(benchGramSet(docs)), "gh")
      .groupBy("doc_id")
      .agg(countDistinct(col("gh")).as("n_shared"))
  }

  /** The [[ppHashSplit]] md5 bucket — shared by the split, the
    * decontamination pass, and the streaming screen so the three can
    * never disagree about which docs are held out.
    */
  private[graft] def splitBucket =
    conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100

  /** (doc_id, gh): digests of each doc's distinct word 5-grams — the
    * decontamination join key. Text is CANONICALIZED first
    * ([[TextAnalysis.normText]]: lowercase, strip punctuation, collapse
    * whitespace), so a case-changed or re-whitespaced copy of a
    * benchmark document produces the same gram keys and still hits the
    * screen — raw-space grams would let trivially-reformatted
    * contamination through. Gram STRINGS are never built: each word
    * hashes once (xxhash64), and a gram's digest is the hash of its
    * 5-word-hash slice — O(5 longs) per gram instead of a ~40-char
    * concat + hash, and a fixed 8-byte key whatever the gram text. A
    * word-hash-tuple digest identifies a gram exactly as the string
    * would (to collision probability), and the ORACLE joins raw gram
    * strings over the same canonicalized text, so the differential
    * check would expose a colliding count.
    */
  private[graft] def gramDigests(docs: DataFrame): DataFrame = {
    val wh = transform(split(TextAnalysis.normText(col("text")), " "),
      w => xxhash64(w))
    val grams = transform(sequence(lit(1), size(col("wh")) - 4),
      i => xxhash64(slice(col("wh"), i, lit(5))))
    docs.select(col("doc_id"), wh.as("wh"))
      .select(col("doc_id"),
        explode(array_distinct(when(size(col("wh")) >= 5, grams)
          .otherwise(array().cast("array<bigint>")))).as("gh"))
  }

  /** Distinct gram digests of the held-out benchmark split (bucket ≥ 90)
    * — the static, bounded set both the batch pass and the streaming
    * screen compare against.
    */
  private[graft] def benchGramSet(docs: DataFrame): DataFrame =
    gramDigests(docs.filter(splitBucket >= 90)).select("gh").distinct()

  /** Screen an arbitrary document batch against a benchmark gram set:
    * keep only docs sharing NO 5-gram with the benchmark (left-anti on
    * the contaminated id set). Shared by the streaming twin so the
    * batch and online screens are one definition.
    */
  private[graft] def screenClean(batch: DataFrame, benchGh: DataFrame): DataFrame =
    batch.join(
      gramDigests(batch).join(broadcast(benchGh), "gh")
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")

  /** Domain-mix resampling — enforce target per-domain shares (the
    * Pile/DoReMi-style reweighting pass): each source gets a target
    * share in permille derived from its id, and documents are kept by
    * the same md5-bucket gate as [[ppStratified]] at acceptance rate
    * min(1, share·N / n_s). The gate is PURE INT64 ARITHMETIC —
    * keep ⟺ bucket·n_s < share·N — so the decision is bit-identical
    * across engines with no float division to drift, and the >1 cap
    * falls out for free (bucket < 1000 always passes). Scale shape:
    * the per-source count table is bounded by the domain vocabulary →
    * broadcast joins; the gate itself is a scan-side predicate, so the
    * resample is one aggregation + one narrow pass, stable under
    * re-partitioning and corpus growth.
    */
  private def ppDomainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val total = docs.groupBy().agg(count(lit(1)).as("n"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 9, 4),
      16, 10).cast("long") % 1000
    // 2-arg substring (unbounded suffix) to mirror the oracle's
    // substr(source, 4) exactly — a length-capped variant would diverge
    // on source ids with >10-digit suffixes.
    val permille =
      (expr("substring(source, 4)").cast("long") % 5 + 1) * 10
    docs
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(total))
      .withColumn("bucket", bucket)
      .filter(col("bucket") * col("n_s") < permille * col("n"))
      .select(col("doc_id"), col("source"))
  }

  // Temperature of the language-rebalancing sampler: keep rate per
  // language ∝ p_l^(MixAlpha-1), i.e. rarer languages are upsampled
  // relative to their natural share (α < 1 flattens the distribution;
  // α = 1 is the natural mix; α → 0 is uniform).
  private val MixAlpha = 0.5

  /** Temperature-based language rebalancing (the multilingual sampling
    * rule of XLM-R/mT5: draw languages with probability ∝ p_l^α). At
    * the shipped α = 0.5 the deterministic keep rate per language is
    * √(n_min/n_l) — the rarest language keeps everything and each
    * language's expected kept count is √(n_min·n_l), the geometric-mean
    * flattening between natural and uniform. The gate is the same
    * md5-bucket scheme as [[ppStratified]] but PURE INT64: keep ⟺
    * bucket² · n_l < 10⁶ · n_min (⟺ bucket/1000 < √(n_min/n_l)), so no
    * float pow/sqrt can drift between engines and membership is stable
    * under re-partitioning. Scale shape: the per-language count table
    * is vocabulary-bounded → broadcast; the gate is a scan-side
    * predicate — one aggregation plus one narrow pass, like
    * [[ppDomainMix]]. Corpus growth shifts n_l/n_min and thus rates —
    * inherent to any share-targeting sampler (same contract as
    * domain-mix).
    */
  private def ppTemperatureMix(s: SparkSession, d: String): DataFrame = {
    require(MixAlpha == 0.5,
      "the int64 gate below encodes alpha = 0.5 (square vs square root)")
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val nmin = counts.agg(min(col("n_l")).as("n_min"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 25, 4),
      16, 10).cast("long") % 1000
    docs
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(nmin))
      .withColumn("bucket", bucket)
      .filter(col("bucket") * col("bucket") * col("n_l") <
        lit(1000000L) * col("n_min"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  // Perplexity-bucketing sample rate (permille of docs whose scores
  // define the per-language tertile cutoffs). CCNet computes its
  // cutoffs on a sample too — this knob is what keeps the threshold
  // sort bounded as the corpus grows.
  private val PplSamplePermille = 300

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the corpus unigram LM (per-TOKEN mean log10
    * probability — length-normalized, unlike [[graft.operators
    * .TextAnalysis]]'s raw sum, so long docs aren't automatically
    * "worse"), then cut each language at the tertiles of a
    * deterministic sample into head/middle/tail — the buckets CCNet
    * trains on (head = most fluent under the LM). Thresholds are ORDER
    * STATISTICS of the sample (the value at rank ⌈n/3⌉ / ⌈2n/3⌉, ties
    * broken by doc_id), never interpolated — so they are actual data
    * values and the bucket comparison on 6dp-rounded scores is
    * bit-identical across engines. Scale shape: scoring is the
    * vocabulary-bounded broadcast-dictionary join of the unigram LM;
    * the threshold build sorts ONLY the hash sample (rate-bounded by
    * [[PplSamplePermille]], one window per language partition); the
    * thresholds are one row per language → broadcast; the final bucket
    * assignment is a scan-side CASE. A language absent from the sample
    * (impossible at the shipped rate on any test SF, guarded anyway)
    * buckets as 'middle'.
    */
  private def ppPplBuckets(s: SparkSession, d: String): DataFrame = {
    // spreadScan: tokenize+explode otherwise runs inside the
    // single-split documents scan on one core (r15 plan audit).
    val tok = spreadScan(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    // Pinned: consumed twice (threshold build over the sample, final
    // bucket pass over everything) — without the pin the corpus-wide
    // token join would run twice.
    val scored = tok.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "lang")
      .agg(r6(sum(log10(col("cnt").cast("double") / col("total")))
        / count(lit(1))).as("score"))
      .pinned()
    val sampleBucket = conv(substring(md5(col("doc_id").cast("string")),
      29, 4), 16, 10).cast("long") % 1000
    val sample = scored.filter(sampleBucket < PplSamplePermille)
    val w = Window.partitionBy("lang").orderBy("score", "doc_id")
    val cnts = sample.groupBy("lang").agg(count(lit(1)).as("n"))
    // ⌈n/3⌉ = (n+2) div 3 and ⌈2n/3⌉ = (2n+2) div 3 — integer forms so
    // no float ceil can disagree. With n < 3 the two ranks coincide and
    // t1 = t2 (everything below the single cutoff is tail, the rest
    // head) — still deterministic.
    val thr = sample.withColumn("rk", row_number().over(w))
      .join(broadcast(cnts), "lang")
      .filter(col("rk") === expr("(n + 2) div 3") ||
        col("rk") === expr("(2 * n + 2) div 3"))
      .groupBy("lang")
      .agg(min(when(col("rk") === expr("(n + 2) div 3"), col("score")))
        .as("t1"),
        min(when(col("rk") === expr("(2 * n + 2) div 3"), col("score")))
          .as("t2"))
    scored.join(broadcast(thr), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("t1").isNull, "middle")
          .when(col("score") <= col("t1"), "tail")
          .when(col("score") <= col("t2"), "middle")
          .otherwise("head"))
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
  }

  /** Segment granularity for line-level dedup: this corpus's documents
    * are single-line token streams (no newline or sentence structure),
    * so the "line" unit is the non-overlapping [[SegTokens]]-token
    * window — the same paragraph-analog unit real pipelines hash when
    * the source format has no layout (C4 dedupes three-sentence spans,
    * CCNet hashes paragraphs; Raffel et al. 2020 §2.2, Wenzek et al.
    * 2020 §4.1).
    */
  private val SegTokens = 10

  /** Line-level (segment) exact dedup — the OTHER dedup axis next to
    * whole-document dedup: every duplicated segment occurrence after
    * its corpus-wide first (ordered by doc_id, then position) is
    * REMOVED and the survivors are stitched back per document, so
    * boilerplate repeated across documents survives exactly once while
    * the hosting documents keep their unique content. Documents whose
    * every segment occurred earlier disappear entirely (the whole-doc
    * dup case degenerates to this).
    *
    * Scale shape: NO window over the segment key. First occurrences
    * come from `groupBy(seg).agg(min(struct(doc_id, pos)))` — the min
    * combines map-side, so a pathological segment duplicated 10⁸ times
    * (an empty-ish boilerplate line at 100 TB) contributes one row per
    * map partition to the shuffle instead of routing every occurrence
    * into one window partition — and the kept occurrences ARE the
    * aggregate's output (a first occurrence is, by definition, one
    * distinct segment's min location), so there is no join back to the
    * exploded frame at all. Two shuffles total, both combine map-side:
    * segment-key min, then doc_id reassembly.
    */
  private def ppLineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupSegments(Tables.documents(s, d))

  /** (doc_id, seg_idx, seg): every non-overlapping [[SegTokens]]-token
    * segment of every document — shared by the batch dedup and its
    * streaming twin so the two can never disagree about segmentation.
    */
  private[graft] def segmentsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), expr(s"(size(t) - 1) div $SegTokens")))
          .as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("t"), col("seg_idx") * SegTokens + 1,
          lit(SegTokens)), " ").as("seg"))

  /** Stitch surviving (doc_id, seg_idx, seg) rows back into documents:
    * (doc_id, n_kept, text_deduped). Shared by batch and streaming.
    */
  private[graft] def reassemble(segs: DataFrame): DataFrame =
    segs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")), " ").as("text_deduped"))

  /** Frame-level core of [[ppLineDedup]]: (doc_id, n_kept,
    * text_deduped), unordered — shared by the registered query and the
    * pipeline stage.
    */
  private[graft] def lineDedupSegments(docs: DataFrame): DataFrame =
    reassemble(segmentsOf(docs)
      .groupBy("seg").agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.seg_idx").as("seg_idx"),
        col("seg")))

  /** Full-row line dedup for pipeline composition: same semantics as
    * [[ppLineDedup]] but the output keeps the documents-table schema
    * (text replaced by the deduplicated text, n_chars recomputed;
    * fully-emptied documents drop out). The carry-column join is
    * doc_id-equi on two frames hash-partitioned by doc_id — the
    * co-partitioned shuffle join, no broadcast of row data.
    */
  def lineDedupDocs(docs: DataFrame): DataFrame =
    lineDedupSegments(docs)
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
      .select(col("doc_id"), col("text_deduped").as("text"), col("lang"),
        col("source"), length(col("text_deduped")).cast("long").as("n_chars"))

  /** Gopher-style rule-based quality filter (Rae et al. 2021's
    * document-quality heuristics, the standard pre-dedup gate of a
    * pretraining pipeline): per document, each rule's pass flag plus
    * the conjunction. Rules: length in tokens, mean word length band,
    * stopword-evidence (≥2 distinct stopwords), and a repetition cap
    * (most frequent token ≤ 25% of the document). Entirely rowwise —
    * array combinators inside the row's codegen stage, no shuffle at
    * all — so the filter scans at I/O speed at any corpus size.
    * Thresholds are corpus-appropriate constants (the synthetic corpus
    * mixes pass and fail on each rule); production would read them from
    * config.
    */
  private def ppQualityFilter(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val stop = typedLit(Seq("the", "a", "and", "of", "to"))
    val meanLen = aggregate(w, lit(0L), (a, x) => a + length(x))
      .cast("double") / size(w)
    // Top-token share via the run-length kernel over the sorted array —
    // O(n log n)/doc. The first cut (`array_max(transform(array_distinct
    // (w), x => size(filter(w, ...))))`) was O(distinct·n)/doc: invisible
    // on short repetitive docs, 33.9× wall growth at the 10× corpus
    // (whose token mutation also raises per-doc distinct counts) — the
    // growth gate's flag, and a real liability for long documents.
    val topFreq = element_at(graft.functions.FreqFunctions
        .sortedFreqStats(sort_array(w)), 1).cast("double") / size(w)
    // spreadScan: the four per-doc rule kernels (tokenize, aggregate,
    // sort+run-length) otherwise run inside the single-split documents
    // scan on one core (r15 plan audit).
    spreadScan(Tables.documents(s, d), col("doc_id")).select(
      col("doc_id"),
      (size(w) >= 20 && size(w) <= 10000).as("r_len"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("r_word_len"),
      (size(array_intersect(array_distinct(w), stop)) >= 2).as("r_stop"),
      (topFreq <= 0.25).as("r_rep"))
      .withColumn("keep",
        col("r_len") && col("r_word_len") && col("r_stop") && col("r_rep"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("pp_quality_filter", ppQualityFilter _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, w, len(w) AS nw,
        |  CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
        |    AS mean_len,
        |  len(list_intersect(list_distinct(w),
        |    ['the', 'a', 'and', 'of', 'to'])) AS n_stop,
        |  CAST(list_max(list_transform(list_distinct(w),
        |    x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w)
        |    AS top_freq
        |  FROM t)
        |SELECT doc_id,
        |  nw >= 20 AND nw <= 10000 AS r_len,
        |  mean_len >= 3.0 AND mean_len <= 10.0 AS r_word_len,
        |  n_stop >= 2 AS r_stop,
        |  top_freq <= 0.25 AS r_rep,
        |  (nw >= 20 AND nw <= 10000) AND
        |    (mean_len >= 3.0 AND mean_len <= 10.0) AND
        |    n_stop >= 2 AND top_freq <= 0.25 AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_line_dedup", ppLineDedup _, Oracle(
      // The oracle states first-occurrence-wins as a window rank (the
      // natural SQL form); the Spark plan states it as a map-side
      // combinable min aggregate — the differential check proves the
      // two are the same function.
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |segs AS (SELECT doc_id, s AS seg_idx,
        |    array_to_string(t[(s*10+1):(s*10+10)], ' ') AS seg
        |  FROM toks, (SELECT unnest(generate_series(0,
        |      (SELECT CAST(max(len(string_split(text, ' '))) // 10 AS INT)
        |       FROM documents))) AS s)
        |  WHERE s*10 < len(t)),
        |keep AS (SELECT doc_id, seg_idx, seg FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |    FROM segs) WHERE rn = 1)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS text_deduped
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_temperature_mix", ppTemperatureMix _, Oracle(
      """WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |m AS (SELECT min(n_l) AS n_min FROM c),
        |b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 4))::BIGINT % 1000
        |    AS bucket
        |FROM documents)
        |SELECT b.doc_id, b.lang, b.bucket
        |FROM b JOIN c USING (lang) CROSS JOIN m
        |WHERE b.bucket * b.bucket * c.n_l < 1000000 * m.n_min
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_ppl_buckets", ppPplBuckets _, Oracle(
      s"""WITH tok AS (SELECT doc_id, lang,
         |    unnest(string_split(text, ' ')) AS token FROM documents),
         |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
         |sc AS (SELECT doc_id, lang,
         |  round(sum(log10(CAST(cnt AS DOUBLE) / total)) / count(*), 6)
         |    AS score
         |  FROM tok JOIN freq USING (token), tot GROUP BY doc_id, lang),
         |sm AS (SELECT * FROM sc
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 29, 4))::BIGINT
         |    % 1000 < $PplSamplePermille),
         |rk AS (SELECT lang, score,
         |  row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rk
         |  FROM sm),
         |n AS (SELECT lang, count(*) AS n FROM sm GROUP BY lang),
         |thr AS (SELECT lang,
         |  min(CASE WHEN rk = (n + 2) // 3 THEN score END) AS t1,
         |  min(CASE WHEN rk = (2 * n + 2) // 3 THEN score END) AS t2
         |  FROM rk JOIN n USING (lang)
         |  WHERE rk = (n + 2) // 3 OR rk = (2 * n + 2) // 3
         |  GROUP BY lang)
         |SELECT sc.doc_id, sc.lang, sc.score,
         |  CASE WHEN t1 IS NULL THEN 'middle'
         |       WHEN sc.score <= t1 THEN 'tail'
         |       WHEN sc.score <= t2 THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM sc LEFT JOIN thr USING (lang)
         |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_decontaminate", ppDecontaminate _, Oracle(
      s"""WITH w0 AS (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
         |    AS bucket,
         |  string_split(${TextAnalysis.normTextSql("text")}, ' ') AS w
         |  FROM documents),
         |t AS (SELECT doc_id, bucket, ${Dedup.shinglesSql(5)} AS sh FROM w0),
         |tr AS (SELECT doc_id, unnest(sh) AS g FROM t WHERE bucket < 80),
         |be AS (SELECT DISTINCT unnest(sh) AS g FROM t WHERE bucket >= 90)
         |SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared
         |FROM tr JOIN be USING (g)
         |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_domain_mix", ppDomainMix _, Oracle(
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))::BIGINT % 1000
        |    AS bucket,
        |  (CAST(substr(source, 4) AS BIGINT) % 5 + 1) * 10 AS permille
        |FROM documents)
        |SELECT b.doc_id, b.source FROM b JOIN c USING (source) CROSS JOIN t
        |WHERE b.bucket * c.n_s < b.permille * t.n
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_hash_split", ppHashSplit _, Oracle(
      """WITH b AS (SELECT lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
        |    AS bucket
        |FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),
    QuerySpec("pp_stratified", ppStratified _, Oracle(
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))::BIGINT % 1000
        |    AS bucket
        |FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 900 WHEN 'es' THEN 700
        |  WHEN 'de' THEN 500 WHEN 'fr' THEN 300 WHEN 'zh' THEN 100
        |  ELSE 0 END
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_token_budget", ppTokenBudget _, Oracle(
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 4))::BIGINT
         |    AS ord
         |FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < $SourceTokenBudget
         |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_fixed_k", ppFixedK _, Oracle(
      s"""WITH t AS (SELECT doc_id, source, lang,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 21, 4))::BIGINT
         |    AS ord
         |FROM documents),
         |r AS (SELECT doc_id, source, lang,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY ord, doc_id)
         |    AS BIGINT) AS rank
         |  FROM t)
         |SELECT doc_id, source, lang, rank FROM r WHERE rank <= $FixedK
         |ORDER BY doc_id""".stripMargin)),
    QuerySpec("pp_pack", ppPack _, Oracle(
      s"""WITH t AS (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 4))::BIGINT
         |    % $PackShards AS shard,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         |FROM documents),
         |c AS (SELECT shard, doc_id, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT shard, doc_id, n_tokens,
         |  CAST((cum - n_tokens) // $PackSeqLen AS BIGINT) AS seq_idx,
         |  CAST((cum - n_tokens) % $PackSeqLen AS BIGINT) AS seq_offset
         |FROM c ORDER BY shard, doc_id""".stripMargin)),
    QuerySpec("io_jsonl_roundtrip", ioJsonl _, Oracle(
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("io_csv_roundtrip", ioCsv _, Oracle(
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("io_orc_roundtrip", ioOrc _, Oracle(
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("io_text_scan", ioTextScan _, Oracle(
      """SELECT l_orderkey % 7 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem WHERE l_quantity > 25.0
        |GROUP BY 1 ORDER BY bucket""".stripMargin)))
}
