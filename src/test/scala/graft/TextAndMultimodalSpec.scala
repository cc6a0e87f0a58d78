package graft

import org.apache.spark.sql.functions._

class TextAndMultimodalSpec extends GraftSuite {

  test("quality metrics are internally consistent") {
    val rows = SparkEntry.queries("ta_quality")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nWords = r.getInt(2); val nDistinct = r.getInt(3)
      assert(nDistinct <= nWords)
      val ttr = r.getDouble(4)
      assert(math.abs(ttr - nDistinct.toDouble / nWords) < 1e-5)
      assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1) // stop_ratio
    }
  }

  test("fingerprint collides for planted near-dup pairs") {
    val dupPairs = SparkEntry.queries("dd_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val fp = SparkEntry.queries("ta_fingerprint")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // min-hash fingerprint collides with prob ~= jaccard; at j>=0.95
    // expect most planted pairs to collide
    val hits = dupPairs.count { case (a, b) => fp(a) == fp(b) }
    assert(dupPairs.isEmpty || hits.toDouble / dupPairs.length >= 0.7,
      s"$hits/${dupPairs.length} fingerprint collisions")
  }

  test("langid predictions are deterministic and within the lang set") {
    val langs = Set("en", "es", "de", "fr", "zh")
    val r1 = SparkEntry.queries("ta_langid")(spark, sf).collect()
    assert(r1.forall(r => langs.contains(r.getString(7))))
  }

  test("token counts: regex tokens <= whitespace tokens for this corpus") {
    val rows = SparkEntry.queries("ta_tokens")(spark, sf).collect()
    assert(rows.forall(r => r.getInt(2) >= 1 && r.getInt(1) >= 1))
  }

  test("bigram LM: scores negative, bigram counts exact, context beats unigram") {
    val rows = SparkEntry.queries("ta_bigram_logprob")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.nonEmpty)
    // interpolated probabilities are < 1, so every log score is negative
    assert(rows.values.forall(_._2 < 0))
    // n_bigrams is exactly tokens-1 for every doc long enough to score
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, (nb, _)) => assert(nb == lens(id) - 1L) }
    assert(rows.keySet == lens.filter(_._2 >= 2).keySet)
    // on this formulaic corpus the bigram model predicts far better
    // than the unigram baseline: compare corpus-average per-token score
    val uni = SparkEntry.queries("ta_unigram_logprob")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def perTok(m: Map[Long, (Long, Double)]): Double =
      m.values.map(_._2).sum / m.values.map(_._1).sum
    assert(perTok(rows) > perTok(uni),
      s"bigram ${perTok(rows)} should beat unigram ${perTok(uni)}")
  }

  test("Misra-Gries heavy hitters: guarantee holds under vocab >> k pressure") {
    import spark.implicits._
    // Zipf-ish stream: token i appears ~50000/i times over 5000
    // distinct tokens — vocabulary 78x the sketch width, so counters
    // genuinely decrement and evict.
    val tokens = (1 to 5000).flatMap(i =>
      Seq.fill(50000 / i)(f"tok$i%04d"))
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle(tokens)
    val k = 64
    val total = shuffled.length.toLong
    val exact = shuffled.groupBy(identity).view.mapValues(_.length.toLong)
    val trueHh = exact.filter { case (_, n) => n * k > total }.toMap
    assert(trueHh.nonEmpty && trueHh.size < 40 && exact.size > 4000)
    // the full sketch->verify pipeline returns exactly the true set
    for (parts <- Seq(1, 13)) {
      val ds = spark.createDataset(shuffled).repartition(parts).as[String]
      val got = operators.TextAnalysis.heavyHittersOf(ds, k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == trueHh, s"parts=$parts")
    }
    // and the raw summary is bounded and contains every true heavy hitter
    val summary = spark.createDataset(shuffled).repartition(13).as[String]
      .select(new functions.MisraGriesAggregator(k).toColumn).head()
    assert(summary.size < k)
    trueHh.keys.foreach(t => assert(summary.contains(t), s"lost $t"))
  }

  test("chunking: stride reconstruction recovers every document") {
    import org.apache.spark.sql.functions._
    // Concatenating the first `stride` tokens of every chunk plus the
    // tail of the final chunk must reproduce the original text exactly.
    val chunks = SparkEntry.queries("ta_chunks")(spark, sf).collect()
      .groupBy(_.getLong(0))
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val cs = chunks(id).sortBy(_.getInt(1))
      val rebuilt = (cs.init.map(_.getString(3).split(" ").take(48).mkString(" "))
        :+ cs.last.getString(3)).mkString(" ")
      assert(rebuilt == text, s"doc $id")
      // a non-final chunk spans its start through at least the next
      // start (>= stride+1 tokens) and n_tokens matches its text
      cs.foreach(c =>
        assert(c.getInt(2) == c.getString(3).split(" ", -1).length))
      cs.init.foreach(c => assert(c.getInt(2) >= 49 && c.getInt(2) <= 64))
      assert(cs.last.getInt(2) >= 1 && cs.last.getInt(2) <= 64)
    }
  }

  test("pii redaction leaves no email or phone pattern behind") {
    val rows = SparkEntry.queries("ta_pii")(spark, sf).orderBy("doc_id")
      .collect()
    // injected contact line guarantees at least one of each per doc
    assert(rows.forall(_.getInt(1) >= 1))
    assert(rows.forall(_.getInt(2) >= 1))
    // redaction strictly shrinks the injected text and is deterministic
    assert(rows.forall(_.getInt(3) > 0))
    val again = SparkEntry.queries("ta_pii")(spark, sf).orderBy("doc_id")
      .collect()
    assert(rows.map(_.getString(4)).toSeq == again.map(_.getString(4)).toSeq)
  }

  test("multimodal: batched extraction is deterministic, real-decoded, 1:1") {
    val media = operators.Multimodal.bmpTable(spark, sf)
    val f1 = operators.Multimodal.extractFeatures(media).collect()
      .sortBy(_.media_id)
    val f2 = operators.Multimodal.extractFeatures(media).collect()
      .sortBy(_.media_id)
    assert(f1.length == media.count())
    assert(f1.toSeq == f2.toSeq)
    // decoded stats are internally consistent with the decoded geometry
    f1.foreach { f =>
      val px = f.parsed_width.toLong * f.parsed_height
      assert(f.detected_format == "bmp")
      assert(f.b_min.toLong * px <= f.b_sum && f.b_sum <= f.b_max.toLong * px)
      assert(f.n_bytes ==
        54 + f.parsed_height * operators.BmpCodec.rowSize(f.parsed_width))
    }
  }

  test("perceptual dedup: brightness twins caught at hamming 0; exact byte-dedup cannot see them") {
    import operators.Multimodal.{PhashTwinEvery, PhashTwinOffset}
    val pairs = SparkEntry.queries("mm_phash_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.nonEmpty)
    assert(pairs.values.forall(h => h >= 0 && h <= 2))
    // every planted brightness twin pairs with its original at EXACTLY
    // hamming 0 (a uniform exposure shift preserves all 64 gradients)
    val twinIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % PhashTwinEvery === 0).select("doc_id")
      .collect().map(_.getLong(0))
    assert(twinIds.nonEmpty)
    twinIds.foreach { id =>
      assert(pairs.get((id, id + PhashTwinOffset)).contains(0),
        s"brightness twin of $id not caught at hamming 0")
    }
    // ...and the twin is INVISIBLE to exact dedup: payload bytes differ
    val byTwin = operators.Multimodal.phashTable(spark, sf)
      .collect().map(r => r.media_id -> r.payload).toMap
    twinIds.foreach { id =>
      assert(!java.util.Arrays.equals(byTwin(id), byTwin(id + PhashTwinOffset)),
        s"twin of $id has identical bytes — the planted positive is trivial")
    }
  }

  test("audio dedup: container-reframed twins caught at hamming 0 despite differing bytes") {
    import operators.Multimodal.{PhashTwinEvery, PhashTwinOffset}
    val pairs = SparkEntry.queries("mm_audio_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.nonEmpty)
    assert(pairs.values.forall(h => h >= 0 && h <= 2))
    // every planted container twin (junk LIST chunk flipped — same
    // samples, different byte layout) pairs with its original at
    // EXACTLY hamming 0
    val twinIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % PhashTwinEvery === 0).select("doc_id")
      .collect().map(_.getLong(0))
    assert(twinIds.nonEmpty)
    val byTwin = operators.Multimodal.wavTwinTable(spark, sf)
      .collect().map(r => r.media_id -> r.payload).toMap
    twinIds.foreach { id =>
      assert(pairs.get((id, id + PhashTwinOffset)).contains(0),
        s"container twin of $id not caught at hamming 0")
      assert(!java.util.Arrays.equals(byTwin(id), byTwin(id + PhashTwinOffset)),
        s"twin of $id has identical bytes — the planted positive is trivial")
    }
  }

  test("BMP codec: encode→decode round-trips the pixel formula exactly") {
    import operators.BmpCodec
    // widths 1..5 cover every row-padding residue (w*3 mod 4)
    for (w <- 1 to 5; h <- Seq(1, 3, 48); id <- Seq(0L, 7L, 499L)) {
      val st = BmpCodec.decode(BmpCodec.encode(id, w, h))
      assert(st.width == w && st.height == h)
      for (ch <- 0 until 3) {
        val vals = for (s <- 0 until h; c <- 0 until w)
          yield BmpCodec.pixelValue(id, s, c, ch)
        assert(st.sums(ch) == vals.map(_.toLong).sum, s"sum w=$w h=$h ch=$ch")
        assert(st.mins(ch) == vals.min && st.maxs(ch) == vals.max)
      }
    }
    // hostile inputs fail loudly instead of fabricating stats
    intercept[IllegalArgumentException](BmpCodec.decode("BMgarbage".getBytes))
    intercept[IllegalArgumentException](BmpCodec.decode("not a bmp at all, not even close.........................".getBytes))
    val truncated = BmpCodec.encode(1L, 8, 8).take(60)
    intercept[IllegalArgumentException](BmpCodec.decode(truncated))
    // hostile width that overflows w*3 in Int must still raise the
    // documented IAE (not walk off the buffer with an AIOOBE)
    val wideHdr = BmpCodec.encode(1L, 4, 4)
    val wide = wideHdr.clone()
    val wBytes = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(800000000).array()
    System.arraycopy(wBytes, 0, wide, 18, 4)
    val e1 = intercept[IllegalArgumentException](BmpCodec.decode(wide))
    assert(e1.getMessage.contains("truncated BMP pixel data"))
    // MediaHeaders recognizes the BMP magic + dims
    val info = operators.MediaHeaders.parse(BmpCodec.encode(2L, 31, 17))
    assert(info == operators.MediaHeaders.MediaInfo("bmp", 31, 17))
    // non-BMP media refuses pixel decode through the extraction kernel
    intercept[Exception] {
      operators.Multimodal.extractFeatures(
        operators.Multimodal.mediaTable(spark, sf)).collect()
    }
  }

  test("BMP strided decode = stats of a nearest-neighbor resize") {
    import operators.BmpCodec
    // odd/even dims cover both ceil branches of the output geometry
    for (w <- Seq(1, 4, 5); h <- Seq(1, 6, 7); stride <- Seq(2, 3)) {
      val st = BmpCodec.decodeStrided(BmpCodec.encode(9L, w, h), stride)
      assert(st.width == (w + stride - 1) / stride)
      assert(st.height == (h + stride - 1) / stride)
      for (ch <- 0 until 3) {
        val vals = for (s <- 0 until h by stride; c <- 0 until w by stride)
          yield BmpCodec.pixelValue(9L, s, c, ch)
        assert(st.sums(ch) == vals.map(_.toLong).sum,
          s"w=$w h=$h stride=$stride ch=$ch")
        assert(st.mins(ch) == vals.min && st.maxs(ch) == vals.max)
      }
    }
    // stride 1 is the plain decode
    val full = BmpCodec.decode(BmpCodec.encode(3L, 8, 8))
    val s1 = BmpCodec.decodeStrided(BmpCodec.encode(3L, 8, 8), 1)
    assert(full.sums.toSeq == s1.sums.toSeq && full.width == s1.width)
  }

  test("WAV codec: encode→decode round-trips the sample formula exactly") {
    import operators.WavCodec
    // ids 5, 10 carry the junk LIST chunk → the chunk walk must skip it
    for (id <- Seq(1L, 2L, 5L, 10L); ch <- 1 to 2; n <- Seq(1, 7, 500)) {
      val st = WavCodec.decode(WavCodec.encode(id, ch, 8000, n))
      assert(st.channels == ch && st.sampleRate == 8000 && st.nFrames == n)
      for (c <- 0 until ch) {
        val vals = (0 until n).map(f => WavCodec.sampleValue(id, f, c))
        assert(st.sums(c) == vals.map(_.toLong).sum, s"id=$id ch=$ch c=$c")
        assert(st.mins(c) == vals.min && st.maxs(c) == vals.max)
        assert(st.sumSqs(c) == vals.map(v => v.toLong * v).sum)
      }
    }
    // negative samples survive the 16-bit round trip (sign extension)
    val neg = WavCodec.decode(WavCodec.encode(3L, 1, 8000, 100))
    assert(neg.mins(0) < 0)
    // hostile inputs fail loudly
    intercept[IllegalArgumentException](WavCodec.decode("RIFFxxxx".getBytes))
    intercept[IllegalArgumentException](
      WavCodec.decode("not audio at all".getBytes))
    intercept[IllegalArgumentException](
      WavCodec.decode(WavCodec.encode(1L, 2, 8000, 50).dropRight(7)))
    // hostile chunk size near Int.MaxValue must raise the documented IAE,
    // not wrap p+8+size negative and read past the array
    val huge = WavCodec.encode(1L, 1, 8000, 4)
    val di = huge.indexOfSlice("data".getBytes("US-ASCII"))
    assert(di > 0)
    val szBytes = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue - 8).array()
    System.arraycopy(szBytes, 0, huge, di + 4, 4)
    val e2 = intercept[IllegalArgumentException](WavCodec.decode(huge))
    assert(e2.getMessage.contains("truncated 'data' chunk"))
  }

  test("media headers: PNG/GIF/JPEG dimensions parsed from real bytes") {
    import operators.MediaHeaders
    // Hand-built PNG: signature + IHDR with width=640 height=480
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xE0, 8, 2, 0, 0, 0).map(_.toByte)
    assert(MediaHeaders.parse(png) == MediaHeaders.MediaInfo("png", 640, 480))
    // GIF89a with 320x200 logical screen (LE16)
    val gif = Array[Int]('G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01, 0xC8, 0x00, 0).map(_.toByte)
    assert(MediaHeaders.parse(gif) == MediaHeaders.MediaInfo("gif", 320, 200))
    // JPEG: SOI + APP0 (len 4) + SOF0 with height=100 width=200
    val jpg = Array[Int](0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46,
      0xFF, 0xC0, 0x00, 0x0B, 8, 0x00, 0x64, 0x00, 0xC8, 3, 0, 0, 0).map(_.toByte)
    assert(MediaHeaders.parse(jpg) == MediaHeaders.MediaInfo("jpeg", 200, 100))
    // Garbage → unknown, no crash
    assert(MediaHeaders.parse("not an image".getBytes).format == "unknown")
    assert(MediaHeaders.parse(Array.emptyByteArray).format == "unknown")
    // Minimal 11-byte SOI+SOF0 (what mediaHeader builds for an empty
    // text): the walk must read the dims from the header's last bytes.
    assert(MediaHeaders.parse(operators.Multimodal.mediaHeader("jpeg", 200, 100))
      == MediaHeaders.MediaInfo("jpeg", 200, 100))
  }

  test("media headers run distributed and recover the declared format+dims") {
    val media = operators.Multimodal.mediaTable(spark, sf)
    val parsed = operators.Multimodal.parseHeaders(media)
    assert(parsed.count() == media.count())
    // Every payload now carries a REAL header: the byte-walk parser must
    // recover exactly the declared metadata for every row and format.
    val joined = parsed.join(media.toDF(), "media_id")
    assert(joined.filter(col("detected_format") =!= col("format") ||
      col("parsed_width") =!= col("width") ||
      col("parsed_height") =!= col("height")).count() == 0)
    assert(parsed.select(col("detected_format")).distinct().count() == 3)
    // A headerless payload still parses safely to unknown.
    assert(operators.MediaHeaders.parse("plain text".getBytes).format ==
      "unknown")
  }

  test("multimodal: partitioning is preserved (no implicit coalesce)") {
    val media = operators.Multimodal.bmpTable(spark, sf).repartition(7)
    val out = operators.Multimodal.extractFeatures(media)
    assert(out.rdd.getNumPartitions == 7)
  }

  test("entropy: degenerate repetition scores 0, uniform text scores log2(n)") {
    val rows = SparkEntry.queries("ta_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val distinct = r.getLong(2); val h = r.getDouble(3)
      // entropy is bounded by [0, log2(n_distinct)]
      assert(h >= -1e-6 && h <= math.log(distinct.toDouble) / math.log(2) + 1e-6,
        s"doc ${r.getLong(0)}: H=$h outside [0, log2($distinct)]")
      assert(n >= distinct)
    }
    // planted extremes via a tiny in-memory corpus
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-entropy").toString
    Seq((1L, "a a a a a a a a", "en", "src1", 15L),
        (2L, "b c d e f g h i", "en", "src1", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = SparkEntry.queries("ta_entropy")(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(planted(1L)) < 1e-6)          // all-same-word → 0 bits
    assert(math.abs(planted(2L) - 3.0) < 1e-6)    // 8 uniform words → 3 bits
  }

  test("boilerplate: a phrase repeated across a source's docs is flagged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-boiler").toString
    // source s1: 12 docs sharing the 'click here now' prefix (boilerplate),
    // each with a unique tail; source s2: too few docs to qualify.
    val s1 = (1L to 12L).map(i =>
      (i, s"click here now unique$i tail$i words$i", "en", "s1", 30L))
    val s2 = (21L to 23L).map(i =>
      (i, s"click here now unique$i tail$i words$i", "en", "s2", 30L))
    (s1 ++ s2).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("ta_boilerplate")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toList
    // s1 docs: shingles = 5 per doc; 'click here'/'here now' shared by
    // all 12/12 docs of s1 → 2 boilerplate shingles → frac 0.4 → keep=0
    rows.filter(_._1 <= 12L).foreach { case (id, nSh, nBo, keep) =>
      assert(nBo == 2L, s"doc $id: expected 2 boilerplate shingles, got $nBo")
      assert(keep == 0, s"doc $id should fail the keep gate")
    }
    // s2 has only 3 docs (< BoilerMinDocs): nothing flagged there
    rows.filter(_._1 >= 21L).foreach { case (id, _, nBo, keep) =>
      assert(nBo == 0L && keep == 1, s"doc $id: small source must not flag")
    }
  }

  test("boilerplate aggregate-join form matches the retired window form") {
    // The round-8 skew-safe rewrite (groupBy df + bounded boiler-set
    // join) must be row-identical to the round-7 window form it
    // replaces — on the real corpus, where sources straddle the
    // BoilerMinDocs gate and docs carry repeated shingles.
    val agg = SparkEntry.queries("ta_boilerplate")(spark, sf)
      .collect().map(_.toSeq).toSet
    val win = operators.TextAnalysis.boilerplateWindowed(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(agg === win)
    assert(agg.nonEmpty)
  }

  test("token budget: every admitted doc starts within budget, per source") {
    val rows = SparkEntry.queries("pp_token_budget")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, src, n, cum) =>
      assert(cum - n < 800L, s"doc $id in $src starts at ${cum - n} >= budget")
      assert(n >= 1 && cum >= n)
    }
    // every source contributes at least one admitted doc, and the query
    // is deterministic across runs
    val srcAll = Tables.documents(spark, sf)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_._2).toSet == srcAll)
    val again = SparkEntry.queries("pp_token_budget")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(again == rows.map(r => (r._1, r._4)).toSet)
  }

  test("MP4 walk: box tree round-trips; free-box skip is load-bearing; truncation fails") {
    import operators.Mp4Walk
    // id 10: has the planted free box (10 % 5 == 0) AND 2 traks
    val withFree = Mp4Walk.encode(10L, 123L)
    val p1 = Mp4Walk.parse(withFree)
    assert(p1 == Mp4Walk.Mp4Info("isom", Mp4Walk.timescaleOf(123),
      Mp4Walk.durationOf(123), 2))
    // id 7: no free box, 'mp42' brand, 2 traks
    val p2 = Mp4Walk.parse(Mp4Walk.encode(7L, 999L))
    assert(p2 == Mp4Walk.Mp4Info("mp42", Mp4Walk.timescaleOf(999),
      Mp4Walk.durationOf(999), 2))
    // the walk honors declared sizes: byte length matches the oracle's
    // closed-form 140 + free + 100·tracks
    assert(withFree.length == 140 + 16 + 100 * 2)
    // truncating mid-box must fail loudly, not fabricate metadata
    intercept[IllegalArgumentException] {
      Mp4Walk.parse(withFree.take(withFree.length - 10))
    }
    // a lying box size (larger than the buffer) must also fail
    val lying = withFree.clone()
    lying(0) = 0x7F.toByte // ftyp size high byte → absurd length
    intercept[IllegalArgumentException] { Mp4Walk.parse(lying) }
  }
}
