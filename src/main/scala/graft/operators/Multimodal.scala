package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque binary columns with typed
  * metadata, batch feature extraction with real Spark plumbing (schema,
  * partitioning, batch shape) and a REAL pixel decoder.
  *
  * The container has no image/audio codec libraries, so the compressed
  * formats (PNG/GIF/JPEG) decode headers only ([[MediaHeaders]], a real
  * byte walk). Pixel decode is real for uncompressed 24bpp BMP
  * ([[BmpCodec]] — BMP needs no codec), so per-channel pixel statistics
  * are genuine decoder output, oracle-checked against the generating
  * formula. The Spark-side contract is what matters at 100 TB: binary
  * payloads never become join/group keys, feature extraction is
  * mapPartitions in bounded batches (the Scala analog of mapInPandas
  * with a batch size), and metadata travels in typed columns.
  */
object Multimodal {

  /** Typed row for the media table: payload + typed metadata. */
  case class MediaRow(media_id: Long, payload: Array[Byte], format: String,
      width: Int, height: Int)

  /** Extracted feature row: header fields from the REAL byte parser
    * ([[MediaHeaders]]), pixel statistics from the REAL BMP decoder
    * ([[BmpCodec.decode]]) — integer sums/extrema per B/G/R channel, so
    * the whole row is exact and cross-engine checkable.
    */
  case class MediaFeatures(media_id: Long, n_bytes: Int,
      detected_format: String, parsed_width: Int, parsed_height: Int,
      b_sum: Long, g_sum: Long, r_sum: Long,
      b_min: Int, b_max: Int, g_min: Int, g_max: Int,
      r_min: Int, r_max: Int)

  /** A REAL media header for the declared format/dimensions — the byte
    * layouts [[MediaHeaders]] parses (PNG signature+IHDR, GIF89a logical
    * screen, JPEG SOI+SOF0). Width/height are encoded at the genuine
    * offsets in the genuine endianness, so parsing the payload is a real
    * decode of real header bytes, not a tautology.
    */
  private[graft] def mediaHeader(fmt: String, w: Int, h: Int): Array[Byte] =
    (fmt match {
      case "png" => Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
        0, 0, 0, 13, 'I', 'H', 'D', 'R',
        w >>> 24, (w >>> 16) & 0xFF, (w >>> 8) & 0xFF, w & 0xFF,
        h >>> 24, (h >>> 16) & 0xFF, (h >>> 8) & 0xFF, h & 0xFF)
      case "gif" => Array[Int]('G', 'I', 'F', '8', '9', 'a',
        w & 0xFF, (w >>> 8) & 0xFF, h & 0xFF, (h >>> 8) & 0xFF)
      case _ => Array[Int](0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 8,
        (h >>> 8) & 0xFF, h & 0xFF, (w >>> 8) & 0xFF, w & 0xFF)
    }).map(_.toByte)

  /** Builds the media table from documents: payload = a real media
    * header (declared format + dims at the correct offsets) followed by
    * the utf-8 text bytes standing in for pixel data. Deterministic, and
    * header-parseable by the same code a real corpus would use.
    */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg").otherwise("gif").as("format"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"))
      .as[(Long, String, String, Int, Int)]
      .map { case (id, text, fmt, w, h) =>
        MediaRow(id, mediaHeader(fmt, w, h) ++ text.getBytes("UTF-8"),
          fmt, w, h)
      }
  }

  private val BatchSize = 64

  /** The BMP media table: every document gets a complete, spec-valid
    * uncompressed 24bpp BMP payload whose dimensions derive from
    * `n_chars` and whose pixels follow [[BmpCodec.pixelValue]] — so the
    * oracle can recompute pixel statistics from the formula while the
    * Spark side must recover them by actually decoding the bytes.
    */
  def bmpTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        MediaRow(id, BmpCodec.encode(id, w, h), "bmp", w, h)
      }
  }

  /** Batch feature extraction: mapPartitions over bounded batches (the
    * batch shape a vectorized decoder needs), never materializing a
    * whole partition. Header metadata comes from the real byte-level
    * parser ([[MediaHeaders]]); pixel statistics from the real BMP
    * decoder ([[BmpCodec.decode]]). Undecodable payloads fail loudly
    * (format mismatch, truncation) rather than fabricating stats — the
    * dead-letter routing a production pipeline would add sits outside
    * this kernel.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        // A real vectorized decoder would process `batch` in one call.
        batch.iterator.map { r =>
          val info = MediaHeaders.parse(r.payload)
          require(info.format == "bmp",
            s"media ${r.media_id}: cannot pixel-decode '${info.format}'")
          val st = BmpCodec.decode(r.payload)
          MediaFeatures(r.media_id, r.payload.length, info.format,
            st.width, st.height,
            st.sums(0), st.sums(1), st.sums(2),
            st.mins(0), st.maxs(0), st.mins(1), st.maxs(1),
            st.mins(2), st.maxs(2))
        }
      }
    }
  }

  private val ResizeStride = 2

  /** Oracle-checked nearest-neighbor resize: decode each BMP at stride
    * [[ResizeStride]] ([[BmpCodec.decodeStrided]] — the resized image's
    * per-channel stats in one 1/stride² walk, never materializing the
    * resampled pixels). DuckDB recomputes the stats from the generating
    * formula at the SAMPLED coordinates, so the stride geometry (which
    * source pixels a resize keeps, and the ceil(dim/stride) output
    * dims) is differentially verified.
    */
  private def resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bmpTable(s, d).mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val st = BmpCodec.decodeStrided(r.payload, ResizeStride)
          (0 until 3).map(ch =>
            (r.media_id, ch, st.width, st.height,
              st.sums(ch), st.mins(ch), st.maxs(ch)))
        }
      }
    }.toDF("media_id", "channel", "out_w", "out_h",
      "px_sum", "px_min", "px_max")
  }

  /** WAV media table: every document gets a complete PCM16 clip whose
    * geometry (channels, sample rate, frame count) derives from the
    * document row and whose samples follow [[WavCodec.sampleValue]] —
    * the audio analog of [[bmpTable]]. Every fifth clip carries a junk
    * LIST chunk so the decoder's RIFF chunk walk is load-bearing.
    */
  def wavTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("doc_id") % 2 + 1).cast("int").as("channels"),
        (lit(8000) + (col("n_chars") % 3) * 4000).cast("int").as("rate"),
        (col("n_chars") % 500 + 1).cast("int").as("frames"))
      .as[(Long, Int, Int, Int)]
      .map { case (id, ch, rate, n) =>
        MediaRow(id, WavCodec.encode(id, ch, rate, n), "wav", -1, -1)
      }
  }

  /** Oracle-checked audio decode at the (media, channel) grain: format
    * geometry plus integer-exact sample statistics (sum/min/max/sum of
    * squares — the RMS/loudness building blocks), all recovered by the
    * REAL RIFF chunk walk; DuckDB recomputes them from the generating
    * formula.
    */
  private def audio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wavTable(s, d).mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val st = WavCodec.decode(r.payload)
          (0 until st.channels).map(c =>
            (r.media_id, c, st.channels, st.sampleRate, st.nFrames,
              st.sums(c), st.mins(c), st.maxs(c), st.sumSqs(c)))
        }
      }
    }.toDF("media_id", "channel", "channels", "sample_rate", "n_frames",
      "smp_sum", "smp_min", "smp_max", "smp_sumsq")
  }

  // dHash geometry: a 9×8 grayscale grid gives 8 horizontal gradients
  // per row × 8 rows = 64 sign bits. Pairs within Hamming ≤ 2 count as
  // perceptual near-dups; every PhashTwinEvery-th image gets a
  // brightness-shifted twin (uniform +PhashTwinBright on every channel
  // — different BYTES, identical GRADIENTS) so the detector has planted
  // positives that exact byte-dedup provably cannot see.
  private val PhashGridW = 9
  private val PhashGridH = 8
  private val PhashHamTau = 2
  private val PhashBands = 4
  private[graft] val PhashTwinEvery = 50
  private[graft] val PhashTwinOffset = 10000000L
  private val PhashTwinBright = 5

  /** The twin's media id — with a loud guard: a corpus whose ids reach
    * the twin range (e.g. a scaled synthetic corpus with replicated id
    * bands) would silently alias two different payloads under one
    * media_id and corrupt the pair sets.
    */
  private def twinId(id: Long): Long = {
    require(id >= 0 && id < PhashTwinOffset,
      s"doc_id $id collides with the twin media_id range (>= $PhashTwinOffset)")
    id + PhashTwinOffset
  }

  /** The perceptual-dedup media table: every document's BMP plus, for
    * every [[PhashTwinEvery]]-th document, a brightness-shifted twin
    * under a disjoint media_id range. Derives from [[bmpTable]] so the
    * image geometry formula lives in one place.
    */
  private[graft] def phashTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    bmpTable(s, d).flatMap { r =>
      if (r.media_id % PhashTwinEvery == 0)
        Seq(r, MediaRow(twinId(r.media_id),
          BmpCodec.encode(r.media_id, r.width, r.height, PhashTwinBright),
          "bmp", r.width, r.height))
      else Seq(r)
    }
  }

  /** The shared banded-Hamming pair stage of both perceptual dedup ops:
    * a (media_id, dhash) frame is PINNED AND MATERIALIZED (the decode
    * subplan would otherwise run once per self-join side within the
    * first action — the cluster-edges lesson), banded into
    * [[PhashBands]]×16-bit keys (shiftrightunsigned + mask so a sign
    * bit never leaks into a band), candidate pairs join per band
    * bucket (pigeonhole: Hamming ≤ 3 shares a band), and the exact
    * popcount keeps pairs within [[PhashHamTau]].
    */
  private def bandedHammingPairs(hashes: DataFrame): DataFrame = {
    val hs = hashes.pinned()
    hs.count() // force the decode pass ONCE into the cache
    val bands = hs.select(col("media_id"), col("dhash"),
      posexplode(array((0 until PhashBands).map(b =>
        shiftrightunsigned(col("dhash"), b * 16)
          .bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_idx", "band_val")))
    bands.as("x").join(bands.as("y"), Seq("band_idx", "band_val"))
      .filter(col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= PhashHamTau)
      .distinct()
  }

  /** Pack the 64 horizontal-gradient sign bits of a row-major
    * [[PhashGridH]]×[[PhashGridW]] gray grid (bit k = row·8 + col set
    * iff gray(r,c) < gray(r,c+1)) — the classic dHash.
    */
  private[graft] def dhashOf(g: Array[Int]): Long = {
    var hsh = 0L
    var k = 0
    var r = 0
    while (r < PhashGridH) {
      var c = 0
      while (c < PhashGridW - 1) {
        if (g(r * PhashGridW + c) < g(r * PhashGridW + c + 1)) hsh |= 1L << k
        k += 1
        c += 1
      }
      r += 1
    }
    hsh
  }

  /** Perceptual image dedup via difference hash: decode each BMP to the
    * normalized gray grid (REAL byte walk), pack the 64 gradient signs,
    * and pair images within Hamming ≤ [[PhashHamTau]]. Robust to
    * uniform exposure shifts by construction (gradients are unchanged),
    * which is exactly what the planted twins verify — and what
    * md5-of-payload exact dedup cannot catch. Scale shape: the
    * [[PhashBands]]×16-bit banded self-join (pigeonhole: Hamming ≤ 3
    * shares a band) generates candidates on band-bucket keys — never
    * all-pairs — and the popcount verify is exact, so banding is purely
    * a pruning layer. The ORACLE recomputes grid, hash, and pairs from
    * the generating formula all-pairs in DuckDB, differentially
    * verifying decoder addressing, grid geometry, bit packing AND the
    * band pruning (a pruned true pair would show as a missing row).
    */
  private def phashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bandedHammingPairs(phashTable(s, d).mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map(r => (r.media_id,
          dhashOf(BmpCodec.decodeGray(r.payload, PhashGridW, PhashGridH))))
      }
    }.toDF("media_id", "dhash"))
  }

  // Audio fingerprint geometry: 65 energy windows → 64 envelope-gradient
  // sign bits, paired within the same Hamming/banding scheme as the
  // image dHash. Twins here vary the CONTAINER (junk LIST chunk flipped
  // — different bytes, identical samples), the dual robustness property
  // to the image twins' exposure shift.
  private val AfpWindows = 65

  /** The audio-dedup media table: every document's WAV plus, for every
    * [[PhashTwinEvery]]-th document, a container-framing twin under the
    * disjoint media_id range.
    */
  private[graft] def wavTwinTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("doc_id") % 2 + 1).cast("int").as("channels"),
        (lit(8000) + (col("n_chars") % 3) * 4000).cast("int").as("rate"),
        (col("n_chars") % 500 + 1).cast("int").as("frames"))
      .as[(Long, Int, Int, Int)]
      .flatMap { case (id, ch, rate, n) =>
        val orig = MediaRow(id, WavCodec.encode(id, ch, rate, n), "wav", -1, -1)
        if (id % PhashTwinEvery == 0)
          Seq(orig, MediaRow(twinId(id),
            WavCodec.encode(id, ch, rate, n,
              forceJunk = Some(!WavCodec.hasJunkChunk(id))), "wav", -1, -1))
        else Seq(orig)
      }
  }

  /** Pack the 64 energy-envelope gradient signs (bit k set iff
    * energy(k) < energy(k+1)) — the audio difference hash.
    */
  private[graft] def afpOf(e: Array[Long]): Long = {
    var hsh = 0L
    var k = 0
    while (k < AfpWindows - 1) {
      if (e(k) < e(k + 1)) hsh |= 1L << k
      k += 1
    }
    hsh
  }

  /** Perceptual audio dedup via the energy-envelope difference hash:
    * decode each clip's channel-0 squared-sample energy over
    * [[AfpWindows]] equal windows (REAL RIFF chunk walk), pack the 64
    * gradient signs, pair within Hamming ≤ 2 — the same
    * banded-candidates + exact-popcount shape as [[phashDedup]], so
    * image and audio dedup share one scale story. Robust to container
    * re-framing by construction (chunk layout never touches the
    * samples), which the planted twins verify and md5-of-payload
    * cannot. ORACLE-CHECKED: DuckDB recomputes windows, energies, bit
    * packing and all-pairs Hamming from the generating sample formula.
    */
  private def audioDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bandedHammingPairs(wavTwinTable(s, d).mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map(r => (r.media_id,
          afpOf(WavCodec.decodeEnergies(r.payload, AfpWindows))))
      }
    }.toDF("media_id", "dhash"))
  }

  /** Header metadata over a binary media column — real parsing, no codec. */
  def parseHeaders(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.map { r =>
      val info = MediaHeaders.parse(r.payload)
      (r.media_id, info.format, info.width, info.height)
    }.toDF("media_id", "detected_format", "parsed_width", "parsed_height")
  }

  /** Oracle-checked metadata query: binary payload length + hex prefix —
    * the part of the multimodal path expressible in both engines.
    */
  private def meta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
      substring(hex(encode(col("text"), "UTF-8")), 1, 16).as("hex_prefix"))

  /** Fully oracle-checked feature pipeline: BMP media table → batched
    * real decode → per-channel pixel means plus header metadata. The
    * oracle recomputes every column from the generating formula over
    * `documents`; the Spark side recovers them only by walking the
    * actual BMP bytes, so file-size arithmetic, header parsing, row
    * padding, and channel order are all differentially verified.
    */
  private def features(s: SparkSession, d: String): DataFrame = {
    val px = (col("parsed_width") * col("parsed_height")).cast("double")
    extractFeatures(bmpTable(s, d)).toDF()
      .select(col("media_id"), col("n_bytes"), col("detected_format"),
        col("parsed_width"), col("parsed_height"),
        r6(col("b_sum") / px).as("b_mean"),
        r6(col("g_sum") / px).as("g_mean"),
        r6(col("r_sum") / px).as("r_mean"))
  }

  /** Integer-exact per-channel pixel statistics at the (media, channel)
    * grain — the hash-exact complement to [[features]]' rounded means
    * (no float division anywhere in the row).
    */
  private def pixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    extractFeatures(bmpTable(s, d))
      .flatMap(f => Seq(
        (f.media_id, 0, f.b_sum, f.b_min, f.b_max),
        (f.media_id, 1, f.g_sum, f.g_min, f.g_max),
        (f.media_id, 2, f.r_sum, f.r_min, f.r_max)))
      .toDF("media_id", "channel", "px_sum", "px_min", "px_max")
  }

  /** The oracle-checkable half of the feature pipeline split out: header
    * parse over the constructed payloads. The oracle recomputes the
    * EXPECTED format/dims from the generating formula over `documents` —
    * the Spark side must recover the same values by actually walking the
    * header bytes, so a parser regression (offset, endianness, marker
    * walk) breaks the hash match.
    */
  private def parse(s: SparkSession, d: String): DataFrame =
    parseHeaders(mediaTable(s, d))

  /** Frame sampling over an opaque binary payload: slice fixed 256-byte
    * "frames", keep every 2nd (the sample stride a video pipeline uses
    * to cut decode cost), fingerprint each kept frame. Pure byte
    * arithmetic — unlike the stub decoder this IS oracle-checkable, so
    * the frame-extraction plumbing (offsets, stride, per-frame schema)
    * is differentially verified; only pixel decode itself stays stubbed.
    */
  private val FrameBytes = 256
  private val FrameStride = 2
  private val MaxFrames = 4

  private def frames(s: SparkSession, d: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    val frameIdx = explode(sequence(lit(0), lit(MaxFrames - 1))).as("frame_idx")
    Tables.documents(s, d)
      .select(col("doc_id"), payload.as("payload"), frameIdx)
      .withColumn("off", col("frame_idx") * FrameStride * FrameBytes)
      .filter(octet_length(col("payload")) > col("off"))
      .select(col("doc_id"), col("frame_idx"),
        substring(col("payload"), col("off") + 1, lit(FrameBytes))
          .as("frame"))
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).as("frame_bytes"),
        // Fingerprint the hex rendering: DuckDB's substring/md5 don't
        // take BLOBs, so the oracle slices hex text — Spark still does
        // the real binary slicing and only hashes via hex.
        md5(hex(col("frame"))).as("frame_hash"))
  }

  /** MP4 media table: every document gets a complete ISO-BMFF container
    * ([[Mp4Walk.encode]] — ftyp + moov/mvhd + trak boxes, a planted
    * `free` box every fifth file) whose brand/timescale/duration/track
    * geometry derives from the document row — the video analog of
    * [[bmpTable]]/[[wavTable]].
    */
  def mp4Table(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, nc) =>
        MediaRow(id, Mp4Walk.encode(id, nc), "mp4", -1, -1)
      }
  }

  /** Oracle-checked video-container metadata: brand, timescale,
    * duration (ticks + seconds) and track count, all recovered by the
    * REAL box walk ([[Mp4Walk.parse]] — length-prefixed box tree with
    * skip boxes honored); DuckDB recomputes every field, including the
    * total byte length, from the generating formulas. This is the
    * metadata pass a video corpus pipeline runs before any frame work:
    * duration/track filters never touch sample data.
    */
  private def video(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mp4Table(s, d).mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val info = Mp4Walk.parse(r.payload)
          (r.media_id, r.payload.length, info.brand, info.timescale,
            info.duration, info.nTracks)
        }
      }
    }.toDF("media_id", "n_bytes", "brand", "timescale", "duration",
      "n_tracks")
      .withColumn("dur_s",
        r6(col("duration").cast("double") / col("timescale")))
  }

  // The shared formula-recompute CTE chain for the BMP oracles. DuckDB
  // unnests ZIP in one SELECT, so each range layer gets its own CTE to
  // genuinely cross-join rows × cols × channels.
  private val BmpDims =
    """dims AS (SELECT doc_id, CAST(n_chars % 64 + 1 AS BIGINT) AS w,
      |    CAST(n_chars % 48 + 1 AS BIGINT) AS h FROM documents),
      |rws AS (SELECT doc_id, w, h, unnest(range(0, h)) AS s FROM dims),
      |cls AS (SELECT doc_id, w, h, s, unnest(range(0, w)) AS c FROM rws),
      |chs AS (SELECT doc_id, s, c, unnest(range(0, 3)) AS ch FROM cls),
      |v AS (SELECT doc_id, ch,
      |    (doc_id + s * 7 + c * 13 + ch * 29) % 251 AS val FROM chs)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_video_meta", video _, Oracle(
      // Every field recomputed from Mp4Walk's generating formulas,
      // including the byte length: ftyp 24 + moov header 8 + mvhd 108
      // + planted free box (16, every 5th file) + 100 per trak/tkhd.
      """WITH geo AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |    600 * (n_chars % 4 + 1) AS timescale,
        |    (n_chars * 37) % 100000 + 1 AS duration,
        |    doc_id % 3 + 1 AS n_tracks,
        |    CASE WHEN doc_id % 5 = 0 THEN 16 ELSE 0 END AS free_sz
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(140 + free_sz + 100 * n_tracks AS INT) AS n_bytes,
        |  brand, CAST(timescale AS BIGINT) AS timescale,
        |  CAST(duration AS BIGINT) AS duration,
        |  CAST(n_tracks AS INT) AS n_tracks,
        |  round(CAST(duration AS DOUBLE) / timescale, 6) AS dur_s
        |FROM geo ORDER BY media_id""".stripMargin)),
    QuerySpec("mm_meta", meta _, Oracle(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  substr(hex(encode(text)), 1, 16) AS hex_prefix
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("mm_features", features _, Oracle(
      s"""WITH $BmpDims,
         |st AS (SELECT doc_id, ch, sum(val) AS sm FROM v GROUP BY doc_id, ch),
         |wide AS (SELECT doc_id,
         |    sum(CASE WHEN ch = 0 THEN sm END) AS bs,
         |    sum(CASE WHEN ch = 1 THEN sm END) AS gs,
         |    sum(CASE WHEN ch = 2 THEN sm END) AS rs
         |  FROM st GROUP BY doc_id)
         |SELECT d.doc_id AS media_id,
         |  CAST(54 + d.h * (((d.w * 3 + 3) // 4) * 4) AS INT) AS n_bytes,
         |  'bmp' AS detected_format,
         |  CAST(d.w AS INT) AS parsed_width, CAST(d.h AS INT) AS parsed_height,
         |  round(w.bs / CAST(d.w * d.h AS DOUBLE), 6) AS b_mean,
         |  round(w.gs / CAST(d.w * d.h AS DOUBLE), 6) AS g_mean,
         |  round(w.rs / CAST(d.w * d.h AS DOUBLE), 6) AS r_mean
         |FROM dims d JOIN wide w ON d.doc_id = w.doc_id
         |ORDER BY media_id""".stripMargin)),
    QuerySpec("mm_pixels", pixels _, Oracle(
      s"""WITH $BmpDims
         |SELECT doc_id AS media_id, CAST(ch AS INT) AS channel,
         |  CAST(sum(val) AS BIGINT) AS px_sum,
         |  CAST(min(val) AS INT) AS px_min, CAST(max(val) AS INT) AS px_max
         |FROM v GROUP BY doc_id, ch ORDER BY media_id, channel""".stripMargin)),
    QuerySpec("mm_resize", resize _, Oracle(
      """WITH dims AS (SELECT doc_id, CAST(n_chars % 64 + 1 AS BIGINT) AS w,
        |    CAST(n_chars % 48 + 1 AS BIGINT) AS h FROM documents),
        |d2 AS (SELECT doc_id, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM dims),
        |rws AS (SELECT doc_id, w2, h2, unnest(range(0, h2)) AS s2 FROM d2),
        |cls AS (SELECT doc_id, w2, h2, s2, unnest(range(0, w2)) AS c2 FROM rws),
        |chs AS (SELECT doc_id, w2, h2, s2, c2, unnest(range(0, 3)) AS ch FROM cls),
        |v AS (SELECT doc_id, w2, h2, ch,
        |    (doc_id + s2 * 2 * 7 + c2 * 2 * 13 + ch * 29) % 251 AS val FROM chs)
        |SELECT doc_id AS media_id, CAST(ch AS INT) AS channel,
        |  CAST(any_value(w2) AS INT) AS out_w,
        |  CAST(any_value(h2) AS INT) AS out_h,
        |  CAST(sum(val) AS BIGINT) AS px_sum,
        |  CAST(min(val) AS INT) AS px_min, CAST(max(val) AS INT) AS px_max
        |FROM v GROUP BY doc_id, ch ORDER BY media_id, channel""".stripMargin)),
    QuerySpec("mm_audio", audio _, Oracle(
      """WITH geo AS (SELECT doc_id, CAST(doc_id % 2 + 1 AS INT) AS channels,
        |    CAST(8000 + (n_chars % 3) * 4000 AS INT) AS sample_rate,
        |    CAST(n_chars % 500 + 1 AS BIGINT) AS n_frames FROM documents),
        |fr AS (SELECT doc_id, channels, sample_rate, n_frames,
        |    unnest(range(0, n_frames)) AS f FROM geo),
        |ch AS (SELECT doc_id, channels, sample_rate, n_frames, f,
        |    unnest(range(0, channels)) AS c FROM fr),
        |v AS (SELECT doc_id, channels, sample_rate, n_frames, c,
        |    (doc_id * 31 + f * 7 + c * 11) % 2003 - 1001 AS val FROM ch)
        |SELECT doc_id AS media_id, CAST(c AS INT) AS channel,
        |  any_value(channels) AS channels,
        |  any_value(sample_rate) AS sample_rate,
        |  CAST(any_value(n_frames) AS INT) AS n_frames,
        |  CAST(sum(val) AS BIGINT) AS smp_sum,
        |  CAST(min(val) AS INT) AS smp_min, CAST(max(val) AS INT) AS smp_max,
        |  CAST(sum(val * val) AS BIGINT) AS smp_sumsq
        |FROM v GROUP BY doc_id, c ORDER BY media_id, channel""".stripMargin)),
    QuerySpec("mm_parse", parse _, Oracle(
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg'
        |       ELSE 'gif' END AS detected_format,
        |  CAST(n_chars % 64 + 1 AS INT) AS parsed_width,
        |  CAST(n_chars % 48 + 1 AS INT) AS parsed_height
        |FROM documents ORDER BY media_id""".stripMargin)),
    QuerySpec("mm_phash_dedup", phashDedup _, Oracle(
      s"""WITH imgs AS (
         |  SELECT doc_id AS media_id, doc_id AS base, 0 AS bright,
         |    CAST(n_chars % 64 + 1 AS BIGINT) AS w,
         |    CAST(n_chars % 48 + 1 AS BIGINT) AS h
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PhashTwinOffset, doc_id, $PhashTwinBright,
         |    CAST(n_chars % 64 + 1 AS BIGINT),
         |    CAST(n_chars % 48 + 1 AS BIGINT)
         |  FROM documents WHERE doc_id % $PhashTwinEvery = 0),
         |gr AS (SELECT media_id, base, bright, w, h,
         |  unnest(range(0, $PhashGridH)) AS r FROM imgs),
         |gc AS (SELECT media_id, base, bright, w, h, r,
         |  unnest(range(0, $PhashGridW)) AS c FROM gr),
         |px AS (SELECT media_id, r, c,
         |  (((base + (r*h//$PhashGridH)*7 + (c*w//$PhashGridW)*13) % 251
         |     + bright)
         | + ((base + (r*h//$PhashGridH)*7 + (c*w//$PhashGridW)*13 + 29) % 251
         |     + bright)
         | + ((base + (r*h//$PhashGridH)*7 + (c*w//$PhashGridW)*13 + 58) % 251
         |     + bright)) // 3 AS g
         |  FROM gc),
         |d AS (SELECT a.media_id, a.r, a.c,
         |    CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
         |  FROM px a JOIN px b ON a.media_id = b.media_id AND a.r = b.r
         |    AND b.c = a.c + 1
         |  WHERE a.c < ${PhashGridW - 1}),
         |hs AS (SELECT media_id,
         |  CAST(sum(CASE WHEN bit = 0 THEN 0
         |    WHEN r * ${PhashGridW - 1} + c = 63
         |    THEN -9223372036854775807 - 1
         |    ELSE (1::BIGINT << CAST(r * ${PhashGridW - 1} + c AS INT))
         |    END) AS BIGINT) AS dhash
         |  FROM d GROUP BY media_id)
         |SELECT x.media_id AS id_a, y.media_id AS id_b,
         |  CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
         |FROM hs x JOIN hs y ON x.media_id < y.media_id
         |WHERE bit_count(xor(x.dhash, y.dhash)) <= $PhashHamTau
         |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("mm_audio_dedup", audioDedup _, Oracle(
      s"""WITH clips AS (
         |  SELECT doc_id AS media_id, doc_id AS base,
         |    CAST(n_chars % 500 + 1 AS BIGINT) AS n FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PhashTwinOffset, doc_id,
         |    CAST(n_chars % 500 + 1 AS BIGINT)
         |  FROM documents WHERE doc_id % $PhashTwinEvery = 0),
         |fr AS (SELECT media_id, base, n, unnest(range(0, n)) AS f
         |  FROM clips),
         |en0 AS (SELECT media_id, (f * $AfpWindows) // n AS w,
         |    sum(((base * 31 + f * 7) % 2003 - 1001)
         |      * ((base * 31 + f * 7) % 2003 - 1001)) AS e
         |  FROM fr GROUP BY media_id, w),
         |spine AS (SELECT media_id, unnest(range(0, $AfpWindows)) AS w
         |  FROM clips),
         |en AS (SELECT spine.media_id, spine.w, coalesce(en0.e, 0) AS e
         |  FROM spine LEFT JOIN en0
         |    ON en0.media_id = spine.media_id AND en0.w = spine.w),
         |d AS (SELECT a.media_id, a.w,
         |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
         |  FROM en a JOIN en b ON a.media_id = b.media_id
         |    AND b.w = a.w + 1
         |  WHERE a.w < ${AfpWindows - 1}),
         |hs AS (SELECT media_id,
         |  CAST(sum(CASE WHEN bit = 0 THEN 0
         |    WHEN w = 63 THEN -9223372036854775807 - 1
         |    ELSE (1::BIGINT << CAST(w AS INT)) END) AS BIGINT) AS dhash
         |  FROM d GROUP BY media_id)
         |SELECT x.media_id AS id_a, y.media_id AS id_b,
         |  CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
         |FROM hs x JOIN hs y ON x.media_id < y.media_id
         |WHERE bit_count(xor(x.dhash, y.dhash)) <= $PhashHamTau
         |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("mm_frames", frames _, Oracle(
      s"""WITH p AS (SELECT doc_id, hex(encode(text)) AS ph,
         |        octet_length(encode(text)) AS nb FROM documents),
         |f AS (SELECT doc_id, ph, nb, unnest(range(0, $MaxFrames))
         |        AS frame_idx FROM p),
         |o AS (SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         |        substr(ph, CAST(frame_idx * ${2 * FrameStride * FrameBytes}
         |          + 1 AS INT), ${2 * FrameBytes}) AS fh
         |      FROM f
         |      WHERE nb > frame_idx * ${FrameStride * FrameBytes})
         |SELECT doc_id, frame_idx,
         |  CAST(len(fh) / 2 AS INT) AS frame_bytes,
         |  md5(fh) AS frame_hash
         |FROM o ORDER BY doc_id, frame_idx""".stripMargin)))
}
