package graft

import org.apache.spark.sql.functions._

class DedupSpec extends GraftSuite {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("prefix-filtered jaccard equals naive all-pairs jaccard") {
    val got = run("dd_ngram_jaccard")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Naive reference: all pairs via crossJoin (test-only; quadratic)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = docs.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("db"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val naive = a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("j", inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("j") >= 0.6)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(got.nonEmpty, "testdata should contain planted near-dups")
  }

  test("minhash LSH finds all high-jaccard pairs (recall at tau=0.6)") {
    val exact = run("dd_ngram_jaccard")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("dd_minhash_lsh")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Planted dups are at jaccard ~0.85-0.99 where 4x4-band recall ~1
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall too low")
  }

  test("thresholded edit-distance equals full-DP-then-filter semantics") {
    // dd_edit_distance runs Spark 4's banded levenshtein(a, b, k+1);
    // its output contract is IDENTICAL to the unthresholded DP + a
    // <= 40 filter (what the DuckDB oracle computes). Rebuild the
    // unthresholded form over the same LSH candidates and diff.
    val got = run("dd_edit_distance")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cand = run("dd_minhash_lsh")
    val ta = Tables.documents(spark, sf)
      .select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = Tables.documents(spark, sf)
      .select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    val full = cand.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"))
      .filter(col("edit_dist") <= 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == full)
    assert(got.nonEmpty, "testdata should contain edit-distance near-dups")
  }

  test("exact dedup groups cover every document exactly once") {
    val g = run("dd_exact").agg(sum("n_copies")).first().getLong(0)
    assert(g == Tables.documents(spark, sf).count())
  }

  test("simhash banded pair join equals naive hamming<=3 join") {
    val sigs = run("dd_simhash").select("doc_id", "simhash")
    val a = sigs.select(col("doc_id").as("da"), col("simhash").as("ha"))
    val b = sigs.select(col("doc_id").as("db"), col("simhash").as("hb"))
    val naive = a.crossJoin(b).filter(col("da") < col("db"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = run("dd_simhash_pairs")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == naive)
  }

  test("native SimHash60 expression equals the composed-expression form") {
    val composed = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.Dedup.simhash(col("text")).as("s"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val native = run("dd_simhash").orderBy("doc_id")
      .collect().map(_.getLong(1)).toSeq
    assert(native == composed)
  }

  test("cluster labels: pair members share a label, singletons are own rep") {
    val pairs = run("dd_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = run("dd_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
      assert(labels(a) <= a && labels(a) <= b)
    }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot { case (id, _) => inPairs(id) }
      .foreach { case (id, c) => assert(id == c, s"singleton $id got label $c") }
  }

  test("connected components survive a 500-long chain (diameter ≫ rounds)") {
    // The adversarial shape that broke capped min-label propagation: a
    // single path a−b−c−… where the min label must travel the whole
    // diameter. Large/small-star must converge in O(log n) rounds and
    // label every node 0 — a 20-round propagation cap would have
    // returned wrong labels silently on this graph.
    import spark.implicits._
    val n = 500
    val edges = (1 until n).map(i => (i.toLong, (i - 1).toLong))
      .toDF("u", "v")
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val labels = operators.Dedup.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n)
    labels.foreach { case (id, c) => assert(c == 0L, s"node $id got $c") }
  }

  test("connected components match driver-side union-find on a mixed graph") {
    // Several components of different shapes: two chains, a clique, a
    // star, singletons — labels must equal the component-min computed by
    // a plain union-find reference.
    import spark.implicits._
    val raw = Seq(
      (5L, 3L), (7L, 5L), (9L, 7L),              // chain 3-5-7-9
      (12L, 10L), (14L, 12L),                    // chain 10-12-14
      (21L, 20L), (22L, 20L), (22L, 21L),        // clique {20,21,22}
      (31L, 30L), (32L, 30L), (33L, 30L),        // star on 30
      (9L, 2L))                                  // bridges chain1 to 2
    val nodeIds = (0L to 35L).toSeq
    val parent = scala.collection.mutable.Map(nodeIds.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    raw.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = nodeIds.map(i => i -> find(i)).toMap
    val labels = operators.Dedup.connectedComponents(
      raw.toDF("u", "v"), nodeIds.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == expected)
  }

  test("span coverage matches a brute-force recomputation") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val grams = texts.toSeq.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      (0 to w.length - 8).map(i => id -> w.slice(i, i + 8).mkString(" "))
    }
    val docsPerGram = grams.distinct.groupBy(_._2).view.mapValues(_.size)
    val expected = grams.groupBy(_._1).view.mapValues { gs =>
      (gs.size.toLong, gs.count(g => docsPerGram(g._2) >= 2).toLong)
    }.toMap
    val rows = SparkEntry.queries("dd_span_coverage")(spark, sf).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, dup) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == dup, s"doc ${r.getLong(0)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the corpus genuinely contains duplicated passages (near-dup docs)
    assert(rows.exists(_.getLong(2) > 0))
  }

  test("cluster split never separates a near-dup pair (no eval contamination)") {
    val split = SparkEntry.queries("pp_cluster_split")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = SparkEntry.queries("dd_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) straddles splits") }
    // the per-doc scheme DOES leak on this corpus — the property is real
    val bucket = (id: Long) => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % 100
    }
    val leaky = pairs.exists { case (a, b) =>
      val s1 = bucket(a); val s2 = bucket(b)
      def name(x: Long) = if (x < 80) "train" else if (x < 90) "val" else "test"
      name(s1) != name(s2)
    }
    assert(leaky, "expected at least one per-doc-split leak to motivate the op")
  }

  test("incremental dedup is exact and applies the bloom before the verify join") {
    // Exact twin computed driver-side from fingerprints.
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def fp(text: String): Option[String] = {
      val w = text.split(" ", -1)
      if (w.length < 5) None
      else Some((0 to w.length - 5)
        .map(i => w.slice(i, i + 5).mkString(" ")).distinct.map(md5hex).min)
    }
    def bucket(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).substring(8, 12), 16) % 100
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> fp(r.getString(1)))
    val histFps = docs.collect { case (id, Some(h)) if bucket(id) < 80 => h }.toSet
    val expected = docs.collect { case (id, h) if bucket(id) >= 80 =>
      id -> (if (h.exists(histFps)) 1 else 0) }.toMap
    val out = SparkEntry.queries("dd_incremental")(spark, sf).collect()
    assert(out.length == expected.size)
    out.foreach(r => assert(r.getInt(2) == expected(r.getLong(0)),
      s"doc ${r.getLong(0)}"))
    assert(out.count(_.getInt(2) == 1) > 0, "some incoming docs are near-dups")
    // scale claim: the bloom membership test sits in the plan as a
    // codegen'd filter feeding the exact semi-join
    val plan = SparkEntry.queries("dd_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(600))
  }

  test("keep-best picks the longest member of every cluster") {
    val labels = SparkEntry.queries("dd_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nWords = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length).toMap
    val byCluster = labels.groupBy(_._2).view.mapValues(_.map(_._1))
    val kept = SparkEntry.queries("dd_keep_best")(spark, sf).collect()
    assert(kept.length == byCluster.size)
    kept.foreach { r =>
      val members = byCluster(r.getLong(0))
      val best = members.minBy(id => (-nWords(id), id))
      assert(r.getLong(1) == best, s"cluster ${r.getLong(0)}")
      assert(r.getLong(2) == members.length.toLong)
      assert(r.getInt(3) == nWords(best))
    }
    // at least one multi-doc cluster exercises the argmax
    assert(kept.exists(_.getLong(2) > 1))
  }

  test("cosine near-dup pairs are symmetric-free and above threshold") {
    val rows = run("dd_cosine_neardup").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.45))
  }

  test("containment equals naive all-pairs containment") {
    val got = run("dd_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // naive reference: all ordered pairs via crossJoin (test-only)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = docs.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("db"), col("sh").as("sb"))
    val naive = a.crossJoin(b).filter(col("da") =!= col("db"))
      .withColumn("c", round(size(array_intersect(col("sa"), col("sb")))
        .cast("double") / size(col("sa")), 6))
      .filter(col("c") >= 0.8)
      .select("da", "db", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == naive.toSet)
    assert(got.nonEmpty, "testdata should contain containment pairs")
  }

  test("containment catches the quote-in-wrapper pair jaccard misses") {
    import spark.implicits._
    // doc 1 = a short quote; doc 2 = the same quote inside a much longer
    // wrapper page. Containment(1→2) = 1.0, but the union is dominated
    // by the wrapper so Jaccard sits far below the 0.6 dedup tau.
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val wrapper = (1 to 60).map(i => s"w$i").mkString(" ") +
      " " + quote + " " + (61 to 120).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, wrapper), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.containmentOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"quote→wrapper containment missing: ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L },
      "wrapper must not be flagged as contained in the quote")
    // and the symmetric measure at its own tau indeed misses the pair
    val sh = docs
      .select(col("doc_id"), operators.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(col("doc_id") <= 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val jac = sh(1L).intersect(sh(2L)).size.toDouble / sh(1L).union(sh(2L)).size
    assert(jac < 0.6, s"planted pair must sit below the jaccard tau, got $jac")
  }
}
