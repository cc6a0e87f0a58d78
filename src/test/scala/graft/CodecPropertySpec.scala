package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property-style fuzz of the byte-walk codecs (pure JVM, no Spark):
  * thousands of fixed-seed random payloads exercising the decoders'
  * documented failure contract — on ANY input, decode either succeeds
  * or raises IllegalArgumentException. A curation pipeline routes IAE
  * rows to a dead-letter output; any other throwable (AIOOBE from an
  * unchecked bound, NegativeArraySizeException from an overflowed
  * size) would escape that routing — exactly the class of bug the
  * Long-arithmetic bound checks exist to prevent.
  */
class CodecPropertySpec extends AnyFunSuite {
  import operators.{BmpCodec, WavCodec}

  private def decodesOrRejects(what: String)(f: => Any): Unit =
    try { f; () } catch {
      case _: IllegalArgumentException => ()
      case t: Throwable => fail(s"$what escaped the IAE contract: $t")
    }

  test("BMP round-trip holds on random geometries") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val (id, w, h) = (rnd.nextLong(1000), 1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
      val st = BmpCodec.decode(BmpCodec.encode(id, w, h))
      assert(st.width == w && st.height == h)
      val ch = rnd.nextInt(3)
      val vals = for (s <- 0 until h; c <- 0 until w)
        yield BmpCodec.pixelValue(id, s, c, ch)
      assert(st.sums(ch) == vals.map(_.toLong).sum)
      assert(st.mins(ch) == vals.min && st.maxs(ch) == vals.max)
    }
  }

  test("WAV round-trip holds on random channel/frame shapes") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 200) {
      val (id, ch, n) = (rnd.nextLong(1000), 1 + rnd.nextInt(4), 1 + rnd.nextInt(400))
      val st = WavCodec.decode(WavCodec.encode(id, ch, 8000, n))
      assert(st.channels == ch && st.nFrames == n)
      val c = rnd.nextInt(ch)
      val vals = (0 until n).map(f => WavCodec.sampleValue(id, f, c))
      assert(st.sums(c) == vals.map(_.toLong).sum)
      assert(st.sumSqs(c) == vals.map(v => v.toLong * v).sum)
    }
  }

  test("BMP fuzz: corrupted and truncated payloads never escape the IAE contract") {
    val rnd = new scala.util.Random(17)
    for (i <- 1 to 1500) {
      val b = BmpCodec.encode(i.toLong, 1 + rnd.nextInt(16), 1 + rnd.nextInt(16))
      val c = java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length + 8))
      for (_ <- 0 to rnd.nextInt(6))
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      decodesOrRejects(s"BMP seed $i")(BmpCodec.decode(c))
      decodesOrRejects(s"BMP strided seed $i")(
        BmpCodec.decodeStrided(c, 1 + rnd.nextInt(4)))
    }
  }

  test("BMP hostile giant dims reject cleanly in every decode entry") {
    // Crafted header with w = h = 2^31 - 1: h·rowSize overflows Long
    // (~1.4e19) — a multiplication-form bound check wraps negative and
    // passes, turning the documented IAE into an AIOOBE in the walk.
    // The division-form check must reject all of these.
    val b = BmpCodec.encode(1L, 4, 4)
    def le32(arr: Array[Byte], i: Int, v: Int): Unit = {
      arr(i) = (v & 0xFF).toByte; arr(i + 1) = ((v >>> 8) & 0xFF).toByte
      arr(i + 2) = ((v >>> 16) & 0xFF).toByte
      arr(i + 3) = ((v >>> 24) & 0xFF).toByte
    }
    for ((hw, hh) <- Seq((Int.MaxValue, Int.MaxValue),
        (Int.MaxValue, 3), (3, Int.MaxValue), (715827883, 1000))) {
      val c = java.util.Arrays.copyOf(b, b.length)
      le32(c, 18, hw); le32(c, 22, hh)
      decodesOrRejects(s"BMP ${hw}x$hh")(BmpCodec.decode(c))
      decodesOrRejects(s"BMP strided ${hw}x$hh")(BmpCodec.decodeStrided(c, 2))
      decodesOrRejects(s"BMP gray ${hw}x$hh")(BmpCodec.decodeGray(c, 9, 8))
      intercept[IllegalArgumentException](BmpCodec.decode(c))
    }
  }

  test("BMP gray-grid fuzz: corrupted payloads never escape the IAE contract") {
    val rnd = new scala.util.Random(29)
    for (i <- 1 to 1000) {
      val b = BmpCodec.encode(i.toLong, 1 + rnd.nextInt(16), 1 + rnd.nextInt(16))
      val c = java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length + 8))
      for (_ <- 0 to rnd.nextInt(6))
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      decodesOrRejects(s"BMP gray seed $i")(BmpCodec.decodeGray(c, 9, 8))
    }
  }

  test("WAV energy-envelope fuzz: corrupted payloads never escape the IAE contract") {
    val rnd = new scala.util.Random(31)
    for (i <- 1 to 1000) {
      val b = WavCodec.encode(i.toLong, 1 + rnd.nextInt(3), 8000, 1 + rnd.nextInt(64))
      val c = java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length + 8))
      for (_ <- 0 to rnd.nextInt(6))
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      decodesOrRejects(s"WAV energies seed $i")(
        WavCodec.decodeEnergies(c, 65))
    }
  }

  test("WAV fuzz: corrupted and truncated payloads never escape the IAE contract") {
    val rnd = new scala.util.Random(19)
    for (i <- 1 to 1500) {
      val b = WavCodec.encode(i.toLong, 1 + rnd.nextInt(3), 8000, 1 + rnd.nextInt(64))
      val c = java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length + 8))
      for (_ <- 0 to rnd.nextInt(6))
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      decodesOrRejects(s"WAV seed $i")(WavCodec.decode(c))
    }
  }

  test("media header fuzz: parse is TOTAL — never throws on any input") {
    // parse's contract is stronger than the decoders': it classifies
    // arbitrary bytes (falling back to "unknown"/-1) and must never
    // throw at all — it runs unconditionally on every media row.
    val rnd = new scala.util.Random(23)
    val seeds = Seq(
      BmpCodec.encode(1L, 8, 8),
      WavCodec.encode(1L, 1, 8000, 4),
      Array[Byte](0xFF.toByte, 0xD8.toByte) ++ Array.fill(24)(0.toByte))
    for (_ <- 1 to 2000) {
      val base = seeds(rnd.nextInt(seeds.length))
      val c = java.util.Arrays.copyOf(base, 1 + rnd.nextInt(base.length))
      for (_ <- 0 to rnd.nextInt(8))
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      operators.MediaHeaders.parse(c)
      operators.MediaHeaders.parse(
        Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
    }
  }
}
