package graft.core

import org.scalatest.funsuite.AnyFunSuite

class BloscSpec extends AnyFunSuite {

  test("shuffle/unshuffle roundtrip, incl. non-multiple tails") {
    for (n <- Seq(0, 1, 2, 3, 7, 16, 255, 256, 4096, 4097); ts <- Seq(1, 2, 4, 8)) {
      val src = Array.tabulate[Byte](n)(i => (i * 31 + 7).toByte)
      assert(Blosc.unshuffle(Blosc.shuffle(src, ts), ts).sameElements(src),
        s"n=$n ts=$ts")
    }
  }

  /** c-blosc's byte-shuffle as a strided loop: byte j of element i moves
    * to j * nElems + i; the n % typesize tail stays where it is. */
  private def refShuffle(src: Array[Byte], ts: Int, inverse: Boolean): Array[Byte] = {
    val out = src.clone()
    val nElems = src.length / ts
    for (i <- 0 until nElems; j <- 0 until ts)
      if (inverse) out(i * ts + j) = src(j * nElems + i) else out(j * nElems + i) = src(i * ts + j)
    out
  }

  test("shuffle and unshuffle equal a strided reference loop, typesizes 1-8, tails included") {
    val rnd = new scala.util.Random(21)
    for (ts <- 1 to 8;
         n <- (Seq(0, 1, ts - 1, ts, ts + 1, 3 * ts + ts / 2, 4096, 65536 + 5) ++
               Seq.fill(4)(rnd.nextInt(20000))).distinct) {
      val src = Array.fill(n)(rnd.nextInt().toByte)
      assert(Blosc.shuffle(src, ts).sameElements(refShuffle(src, ts, inverse = false)), s"shuffle n=$n ts=$ts")
      assert(Blosc.unshuffle(src, ts).sameElements(refShuffle(src, ts, inverse = true)), s"unshuffle n=$n ts=$ts")
    }
  }

  test("encode leaves compress's frame in the thread's buffer; a frame decodes from a longer buffer") {
    val raw = PixelCodec.toBytes(Array.tabulate(64 * 64)(i => (i / 8) % 4096))
    val noise = Array.fill[Byte](4096)(new scala.util.Random(3).nextInt().toByte)
    for (r <- Seq(raw, noise, Array.emptyByteArray)) {
      val frame = Blosc.compress(r, 2, 3)
      val (buf, len) = Blosc.encode(r, 2, 3, doShuffle = true)
      assert(len == frame.length && buf.take(len).sameElements(frame))
      // the bytes past the frame are stale: a decode must not read them
      val padded = frame ++ Array.fill[Byte](64)(0x7F)
      assert(Blosc.decompress(padded, frame.length).sameElements(r))
      if (frame.length > 16)
        intercept[IllegalArgumentException](Blosc.decompress(padded, frame.length - 1))
    }
  }

  test("shuffle groups bytes by significance") {
    // uint16 LE [0x0100, 0x0302]: bytes 00 01 02 03 -> shuffled 00 02 01 03
    val src = Array[Byte](0x00, 0x01, 0x02, 0x03)
    assert(Blosc.shuffle(src, 2).toSeq == Seq[Byte](0x00, 0x02, 0x01, 0x03))
  }

  test("compress/decompress roundtrip on compressible data; header fields") {
    val pixels = Array.tabulate(128 * 128)(i => (i / 64) % 65536)
    val raw = PixelCodec.toBytes(pixels)
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    assert(frame.length < raw.length, "ramp data must compress")
    assert(Blosc.decompress(frame).sameElements(raw))
    val h = Blosc.header(frame)
    assert(h.nbytes == raw.length)
    assert(h.cbytes == frame.length)
    assert(h.typesize == 2)
    assert((h.flags & 0x01) != 0, "shuffle flag")
    assert((h.flags & 0x10) != 0, "blocks-not-split flag: one zstd stream per block")
    assert((h.flags >> 5) == 4, "zstd compressor format id")
    assert(frame(0) == 2, "blosc format version")
  }

  test("frames of different sizes and typesizes decode exactly back to back on one thread") {
    // shuffled decodes share one per-thread scratch block: a large frame
    // leaves stale bytes in it that a smaller one must not pick up
    for ((n, ts) <- Seq((1 << 20, 2), (4096, 4), (3, 2), (65537, 1), (1 << 20, 8), (1000, 2), (9, 4))) {
      val raw = Array.tabulate[Byte](n)(i => ((i / 7) * 13 + n + ts).toByte)
      val frame = Blosc.compress(raw, typesize = ts, clevel = 3)
      assert(Blosc.decompress(frame).sameElements(raw), s"n=$n typesize=$ts")
    }
  }

  test("a frame whose length differs from its header's cbytes is rejected") {
    val raw = PixelCodec.toBytes(Array.tabulate(4096)(i => i / 16))
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    val memcpy = Blosc.compress(Array.tabulate[Byte](64)(i => (i * 37).toByte))
    for (f <- Seq(frame, memcpy)) {
      intercept[IllegalArgumentException](Blosc.decompress(f.take(f.length - 1)))
      intercept[IllegalArgumentException](Blosc.decompress(f :+ 0.toByte))
    }
  }

  test("incompressible data falls back to memcpy frame") {
    val rnd = new scala.util.Random(42)
    val raw = Array.fill[Byte](4096)(rnd.nextInt().toByte)
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    val h = Blosc.header(frame)
    if ((h.flags & 0x02) != 0) assert(frame.length == raw.length + 16)
    assert(Blosc.decompress(frame).sameElements(raw))
  }

  test("empty input") {
    val frame = Blosc.compress(Array.emptyByteArray)
    assert(Blosc.decompress(frame).isEmpty)
  }

  test("roundtrip over many sizes and contents") {
    for (seed <- 0 until 25) {
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(5000)
      val raw =
        if (seed % 2 == 0) Array.fill[Byte](n)(rnd.nextInt().toByte)            // noise
        else Array.tabulate[Byte](n)(i => ((i / 7) % 251).toByte)               // structured
      assert(Blosc.decompress(Blosc.compress(raw)).sameElements(raw), s"seed=$seed n=$n")
    }
  }

  test("header rejects bit-shuffle and foreign-compressor frames") {
    val frame = Blosc.compress(PixelCodec.toBytes(Array.tabulate(256)(i => i)), 2, 3)
    // flip in the bit-shuffle flag (0x04): produced by other blosc writers,
    // would decode silently wrong if accepted
    val bitShuffled = frame.clone()
    bitShuffled(2) = (bitShuffled(2) | 0x04).toByte
    intercept[UnsupportedOperationException](Blosc.decompress(bitShuffled))
    // lz4 compressor id (1) instead of zstd (4)
    val lz4 = frame.clone()
    lz4(2) = ((lz4(2) & 0x1F) | (1 << 5)).toByte
    intercept[UnsupportedOperationException](Blosc.decompress(lz4))
    // memcpy frames decode regardless of compressor id
    val mem = Blosc.compress(Array.fill[Byte](64)(new scala.util.Random(7).nextInt().toByte))
    assert(Blosc.decompress(mem).length == 64)
  }

  test("hand-built two-block frame: zstd block + raw block, shuffled, short tail block") {
    // 25 bytes 0x00..0x18, typesize 2, blocksize 16: block 0 holds bytes
    // 0..15, block 1 the 9-byte tail 16..24 (4 elements + 1 loose byte).
    // Each block is byte-shuffled on its own, as c-blosc does.
    val raw = Array.tabulate[Byte](25)(_.toByte)
    val shuffled0 = Array[Byte](0, 2, 4, 6, 8, 10, 12, 14, 1, 3, 5, 7, 9, 11, 13, 15)
    val shuffled1 = Array[Byte](16, 18, 20, 22, 17, 19, 21, 23, 24)
    val z0 = com.github.luben.zstd.Zstd.compress(shuffled0, 3)
    assert(z0.length != shuffled0.length, "block 0 must be a zstd stream, not stored raw")
    val bstart0 = 16 + 4 * 2
    val bstart1 = bstart0 + 4 + z0.length
    val cbytes = bstart1 + 4 + shuffled1.length
    val frame = java.nio.ByteBuffer.allocate(cbytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    frame.put(2.toByte).put(1.toByte)
      .put(((4 << 5) | 0x10 | 0x01).toByte) // zstd, one stream per block, byte-shuffle
      .put(2.toByte)                        // typesize
      .putInt(raw.length).putInt(16).putInt(cbytes)
      .putInt(bstart0).putInt(bstart1)
      .putInt(z0.length).put(z0)
      .putInt(shuffled1.length).put(shuffled1) // csize == block size: stored raw
    assert(Blosc.decompress(frame.array()).toSeq == raw.toSeq)
  }

  test("a compressed frame's zstd stream carries its checksum; one flipped bit fails the decode") {
    val raw = PixelCodec.toBytes(Array.tabulate(32 * 32 * 32)(i => (i * 7 + i / 1000) % 4096))
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    assert((frame(2) & 0x02) == 0, "must be a zstd frame, not stored raw")
    // the stream starts at 24; byte 4 of a zstd frame is its descriptor,
    // whose bit 2 is the content-checksum flag
    assert((frame(24 + 4) & 0x04) != 0, "zstd content checksum flag")
    val flipped = frame.clone()
    flipped(frame.length / 2) = (flipped(frame.length / 2) ^ 0x10).toByte
    intercept[RuntimeException](Blosc.decompress(flipped))
  }

  test("a zstd stream without a checksum still decodes") {
    val raw = PixelCodec.toBytes(Array.tabulate(4096)(i => i / 16))
    val z = com.github.luben.zstd.Zstd.compress(Blosc.shuffle(raw, 2), 3)
    assert((z(4) & 0x04) == 0, "the hand-built stream must carry no checksum")
    val cbytes = 16 + 4 + 4 + z.length
    val frame = java.nio.ByteBuffer.allocate(cbytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(2.toByte).put(1.toByte).put(((4 << 5) | 0x10 | 0x01).toByte).put(2.toByte)
      .putInt(raw.length).putInt(raw.length).putInt(cbytes)
      .putInt(20).putInt(z.length).put(z)
    assert(Blosc.decompress(frame.array()).sameElements(raw))
  }

  // records an open gap: a memcpy frame stores the chunk raw, with no
  // checksum, so a flip in an incompressible chunk still decodes silently
  test("a memcpy frame carries no checksum: a flipped payload byte decodes to wrong bytes") {
    val rnd = new scala.util.Random(7)
    val raw = Array.fill(4096)(rnd.nextInt(256).toByte)
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    assert((frame(2) & 0x02) != 0, "noise must fall back to a memcpy frame")
    val flipped = frame.clone()
    flipped(16 + 100) = (flipped(16 + 100) ^ 0x10).toByte
    val decoded = Blosc.decompress(flipped)
    assert(!decoded.sameElements(raw) && decoded.length == raw.length)
  }

  test("uint16 pixel codec roundtrip with unsigned values") {
    val px = Array(0, 1, 32767, 32768, 65535, 65534)
    assert(PixelCodec.toInts(PixelCodec.toBytes(px)).sameElements(px))
  }
}
