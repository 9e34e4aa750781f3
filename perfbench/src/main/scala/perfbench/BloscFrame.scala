package perfbench

import com.github.luben.zstd.Zstd

/** A Blosc v1 frame decoder written from the public c-blosc 1.x layout,
  * sharing no code with the writer under test (`graft.core.Blosc`). It
  * decodes zstd frames, with or without byte-shuffle, stored raw
  * (memcpy) or compressed, in any number of blocks, split or not. Every
  * structural inconsistency throws [[BloscFrame.Corrupt]].
  *
  * Header, little-endian: version (2), compressor format version (1 for
  * zstd), flags (0x01 shuffle, 0x02 memcpy, 0x04 bit-shuffle, 0x10 not
  * split, bits 5-7 compressor id, zstd = 4), typesize, nbytes, blocksize,
  * cbytes; then one int32 start offset per block. A block holds one stream
  * or, when split, one stream per byte of the type, each prefixed by its
  * int32 compressed size. */
object BloscFrame {
  final class Corrupt(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new Corrupt(msg)

  private def int32(b: Array[Byte], off: Int): Int = {
    if (off < 0 || off + 4 > b.length) fail(s"int32 at $off outside a ${b.length}-byte frame")
    (b(off) & 0xFF) | (b(off + 1) & 0xFF) << 8 | (b(off + 2) & 0xFF) << 16 | (b(off + 3) & 0xFF) << 24
  }

  def decode(frame: Array[Byte]): Array[Byte] = {
    if (frame.length < 16) fail(s"frame of ${frame.length} bytes is shorter than its header")
    if (frame(0) != 2) fail(s"format version ${frame(0)}, expected 2")
    if (frame(1) != 1) fail(s"zstd format version ${frame(1)}, expected 1")
    val flags = frame(2) & 0xFF
    val typesize = frame(3) & 0xFF
    val nbytes = int32(frame, 4)
    val blocksize = int32(frame, 8)
    val cbytes = int32(frame, 12)
    if (cbytes != frame.length) fail(s"cbytes $cbytes but the frame has ${frame.length} bytes")
    if (typesize < 1) fail("typesize 0")
    if (nbytes < 0) fail(s"negative nbytes $nbytes")
    if ((flags & 0x08) != 0) fail(s"unknown flag bit 0x08 in flags 0x${flags.toHexString}")
    if ((flags & 0x02) != 0) {
      if (cbytes != 16 + nbytes) fail(s"memcpy frame of $cbytes bytes for $nbytes raw bytes")
      return java.util.Arrays.copyOfRange(frame, 16, cbytes)
    }
    if ((flags >>> 5) != 4) fail(s"compressor id ${flags >>> 5}, expected zstd (4)")
    if ((flags & 0x04) != 0) fail("bit-shuffle frames are not produced by this writer")
    if (nbytes == 0) {
      if (cbytes != 16) fail("empty frame with a payload")
      return Array.emptyByteArray
    }
    if (blocksize <= 0 || blocksize > nbytes) fail(s"blocksize $blocksize for $nbytes bytes")
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val tableEnd = 16 + 4 * nblocks
    if (tableEnd > cbytes) fail(s"$nblocks block offsets overrun the frame")
    val out = new Array[Byte](nbytes)
    var end = tableEnd
    var k = 0
    while (k < nblocks) {
      val neblock = math.min(blocksize, nbytes - k * blocksize)
      var pos = int32(frame, 16 + 4 * k)
      if (pos < tableEnd || pos >= cbytes) fail(s"block $k starts at $pos, outside [$tableEnd, $cbytes)")
      val block = new Array[Byte](neblock)
      // a split block carries one stream per byte of the type
      val firstLen = streamLength(frame, pos)
      val nsplits =
        if (firstLen == neblock) 1
        else if (typesize > 1 && neblock % typesize == 0 && firstLen == neblock / typesize) typesize
        else fail(s"block $k: first stream holds $firstLen bytes of $neblock")
      val part = neblock / nsplits
      var s = 0
      while (s < nsplits) {
        val csize = int32(frame, pos)
        if (csize <= 0 || pos + 4L + csize > cbytes) fail(s"block $k stream $s: csize $csize overruns the frame")
        if (csize == part) System.arraycopy(frame, pos + 4, block, s * part, part)
        else {
          val n = try Zstd.decompressByteArray(block, s * part, part, frame, pos + 4, csize)
                  catch { case e: RuntimeException => fail(s"block $k stream $s: ${e.getMessage}") }
          if (n != part) fail(s"block $k stream $s decoded $n of $part bytes")
        }
        pos += 4 + csize
        s += 1
      }
      end = math.max(end, pos)
      val plain = if ((flags & 0x01) != 0) unshuffle(block, typesize) else block
      System.arraycopy(plain, 0, out, k * blocksize, neblock)
      k += 1
    }
    if (end != cbytes) fail(s"streams end at $end but the frame has $cbytes bytes")
    out
  }

  /** Uncompressed length a stream at `pos` declares: its own size when
    * stored raw, else the zstd frame's content size. */
  private def streamLength(frame: Array[Byte], pos: Int): Long = {
    val csize = int32(frame, pos)
    if (csize <= 0 || pos + 4L + csize > frame.length) fail(s"stream at $pos: csize $csize overruns the frame")
    val zlen = Zstd.getFrameContentSize(frame, pos + 4, csize)
    if (zlen > 0) zlen else csize.toLong
  }

  private def unshuffle(src: Array[Byte], typesize: Int): Array[Byte] = {
    if (typesize == 1) return src
    val n = src.length / typesize
    val out = new Array[Byte](src.length)
    var b = 0
    while (b < typesize) {
      val plane = b * n
      var i = 0
      while (i < n) { out(i * typesize + b) = src(plane + i); i += 1 }
      b += 1
    }
    val tail = n * typesize
    System.arraycopy(src, tail, out, tail, src.length - tail)
    out
  }
}
