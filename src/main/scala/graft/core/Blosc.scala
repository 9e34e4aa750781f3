package graft.core

import com.github.luben.zstd.{Zstd, ZstdCompressCtx}

/** Blosc v1 frame codec (zstd + byte-shuffle), pure JVM.
  *
  * Re-implements, from the public c-blosc 1.x container format, the codec
  * the reference configures as `Blosc(cname="zstd", clevel=3,
  * shuffle=SHUFFLE)` (`zeiss_job.py:89-101`, `models.py:52-56`) so our Zarr
  * chunks carry the same framing numcodecs expects (SURVEY.md §7.5 hard
  * part #3).
  *
  * Frame layout (all ints little-endian):
  * {{{
  *   byte  0      format version (2)
  *   byte  1      codec format version (1)
  *   byte  2      flags: 0x01 byte-shuffle | 0x02 memcpy | 0x04 bit-shuffle
  *                       | 0x10 blocks not split (one stream per block)
  *                       | compressor-format-id << 5 (zstd = 4)
  *   byte  3      typesize
  *   bytes 4-7    nbytes   (uncompressed length)
  *   bytes 8-11   blocksize
  *   bytes 12-15  cbytes   (total frame length; must equal the frame's)
  *   then, unless memcpy flag:
  *     int32 * nblocks     block start offsets (from frame start)
  *     per block: int32 csize, then the zstd stream for that block
  *                (csize == block's uncompressed size => stored raw)
  *   with memcpy flag: the raw (unshuffled) bytes follow the header.
  * }}}
  *
  * We always emit a single block (blocksize = nbytes) holding one zstd
  * stream, and say so with flag 0x10; the decoder accepts any block
  * count/size. Shuffle is applied per block, matching c-blosc. Our zstd
  * streams carry their content checksum (4 bytes), which libzstd and so
  * c-blosc, numcodecs and [[decompress]] verify: a flipped payload bit
  * fails the decode instead of yielding wrong voxels. Streams without it
  * decode as before. A memcpy frame (a chunk that does not compress) has
  * no checksum, so a flip there still decodes silently.
  */
object Blosc {
  private val Version: Byte = 2
  private val VersionLz: Byte = 1
  private val FlagShuffle = 0x01
  private val FlagMemcpy = 0x02
  private val FlagNoSplit = 0x10
  private val ZstdFormatId = 4

  final case class Header(flags: Int, typesize: Int, nbytes: Int, blocksize: Int, cbytes: Int)

  private def writeLE(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = (v & 0xFF).toByte
    buf(off + 1) = ((v >>> 8) & 0xFF).toByte
    buf(off + 2) = ((v >>> 16) & 0xFF).toByte
    buf(off + 3) = ((v >>> 24) & 0xFF).toByte
  }

  private def readLE(buf: Array[Byte], off: Int): Int =
    (buf(off) & 0xFF) | ((buf(off + 1) & 0xFF) << 8) |
      ((buf(off + 2) & 0xFF) << 16) | ((buf(off + 3) & 0xFF) << 24)

  /** Byte-shuffle (transpose element bytes). A trailing remainder of
    * length `n % typesize` is copied through unshuffled, as in c-blosc. */
  def shuffle(src: Array[Byte], typesize: Int): Array[Byte] =
    shuffleInto(src, typesize, new Array[Byte](src.length))

  /** [[shuffle]] into the first `src.length` bytes of `out`. */
  private def shuffleInto(src: Array[Byte], typesize: Int, out: Array[Byte]): Array[Byte] = {
    val n = src.length
    if (typesize <= 1 || n < typesize) {
      System.arraycopy(src, 0, out, 0, n)
      return out
    }
    val nElems = n / typesize
    val tail = n - nElems * typesize
    var j = 0
    while (j < typesize) {
      var i = 0
      val base = j * nElems
      while (i < nElems) {
        out(base + i) = src(i * typesize + j)
        i += 1
      }
      j += 1
    }
    if (tail > 0) System.arraycopy(src, n - tail, out, n - tail, tail)
    out
  }

  /** Inverse of [[shuffle]]. */
  def unshuffle(src: Array[Byte], typesize: Int): Array[Byte] = {
    val out = new Array[Byte](src.length)
    unshuffleInto(src, 0, src.length, typesize, out, 0)
    out
  }

  /** Unshuffle the `n` bytes of `src` at `srcOff` into `dst` at `dstOff`. */
  private def unshuffleInto(src: Array[Byte], srcOff: Int, n: Int, typesize: Int,
                            dst: Array[Byte], dstOff: Int): Unit = {
    if (typesize <= 1 || n < typesize) {
      System.arraycopy(src, srcOff, dst, dstOff, n)
      return
    }
    val nElems = n / typesize
    val tail = n - nElems * typesize
    var j = 0
    while (j < typesize) {
      var i = 0
      val base = srcOff + j * nElems
      while (i < nElems) {
        dst(dstOff + i * typesize + j) = src(base + i)
        i += 1
      }
      j += 1
    }
    if (tail > 0) System.arraycopy(src, srcOff + n - tail, dst, dstOff + n - tail, tail)
  }

  /** Compress `raw` into a Blosc frame. */
  def compress(raw: Array[Byte], typesize: Int = 2, clevel: Int = 3, doShuffle: Boolean = true): Array[Byte] = {
    val nbytes = raw.length
    if (nbytes == 0) {
      val out = new Array[Byte](16)
      out(0) = Version; out(1) = VersionLz
      out(2) = ((ZstdFormatId << 5) | FlagMemcpy).toByte
      out(3) = typesize.toByte
      writeLE(out, 4, 0); writeLE(out, 8, 0); writeLE(out, 12, 16)
      return out
    }
    val sc = scratch.get
    val shuffled = if (doShuffle) shuffleInto(raw, typesize, sc.take(0, nbytes)) else raw
    // header(16) + bstarts(4) + blockLen(4) + stream: the stream is encoded
    // in place after the header, and the frame is that prefix
    val bound = 24L + Zstd.compressBound(nbytes)
    require(bound <= Int.MaxValue - 8, s"a $nbytes-byte chunk may not fit one blosc frame")
    val dst = sc.take(1, bound.toInt)
    val ctx = new ZstdCompressCtx()
    val compressedLen =
      try ctx.setLevel(clevel).setChecksum(true).compressByteArray(dst, 24, dst.length - 24, shuffled, 0, nbytes)
      finally ctx.close()
    if (16 + 4 + 4 + compressedLen >= 16 + nbytes) {
      // compression not worth it: memcpy frame (raw, unshuffled payload)
      val out = new Array[Byte](16 + nbytes)
      out(0) = Version; out(1) = VersionLz
      out(2) = ((ZstdFormatId << 5) | FlagMemcpy).toByte
      out(3) = typesize.toByte
      writeLE(out, 4, nbytes); writeLE(out, 8, nbytes); writeLE(out, 12, 16 + nbytes)
      System.arraycopy(raw, 0, out, 16, nbytes)
      out
    } else {
      val total = 16 + 4 + 4 + compressedLen
      dst(0) = Version; dst(1) = VersionLz
      dst(2) = ((ZstdFormatId << 5) | FlagNoSplit | (if (doShuffle) FlagShuffle else 0)).toByte
      dst(3) = typesize.toByte
      writeLE(dst, 4, nbytes); writeLE(dst, 8, nbytes); writeLE(dst, 12, total)
      writeLE(dst, 16, 20)            // bstarts[0]: block starts right after
      writeLE(dst, 20, compressedLen) // per-block compressed length
      java.util.Arrays.copyOf(dst, total)
    }
  }

  // The shuffled input and the encode buffer are chunk-sized: 4 MiB for a
  // 128^3 u16 chunk, past half a G1 region, so fresh ones are two humongous
  // allocations per chunk, straight into the old generation. Each thread
  // keeps its pair (each up to ScratchMax), so a call allocates only the
  // frame it returns; a decode takes its shuffled block from buffer 0 and
  // allocates only the array it returns.
  private val ScratchMax = 64 << 20
  private final class Scratch {
    private val bufs = Array(Array.emptyByteArray, Array.emptyByteArray)
    /** Buffer `i`, holding at least `n` bytes; one over ScratchMax is not kept. */
    def take(i: Int, n: Int): Array[Byte] =
      if (bufs(i).length >= n) bufs(i)
      else {
        val b = new Array[Byte](n)
        if (n <= ScratchMax) bufs(i) = b
        b
      }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private val FlagBitshuffle = 0x04

  def header(frame: Array[Byte]): Header = {
    require(frame.length >= 16, s"blosc frame too short: ${frame.length}")
    val h = Header(frame(2) & 0xFF, frame(3) & 0xFF, readLE(frame, 4), readLE(frame, 8), readLE(frame, 12))
    // refuse frames we cannot decode faithfully rather than producing
    // silently-wrong bytes: bit-shuffle is a different filter, and block
    // payloads from non-zstd codecs are not zstd streams
    if ((h.flags & FlagMemcpy) == 0) {
      if ((h.flags & FlagBitshuffle) != 0)
        throw new UnsupportedOperationException(
          "blosc frame uses bit-shuffle (flag 0x04); only byte-shuffle is supported")
      val compId = h.flags >>> 5
      if (compId != ZstdFormatId)
        throw new UnsupportedOperationException(
          s"blosc frame uses compressor id $compId; only zstd ($ZstdFormatId) is supported")
    }
    h
  }

  /** Decompress a Blosc frame (any block count; zstd payloads). */
  def decompress(frame: Array[Byte]): Array[Byte] = {
    val h = header(frame)
    // a truncated or padded chunk file must fail here, not decode short
    require(h.cbytes == frame.length,
      s"blosc frame is ${frame.length} bytes but its header says cbytes=${h.cbytes}")
    if (h.nbytes == 0) return Array.emptyByteArray
    if ((h.flags & FlagMemcpy) != 0) {
      val out = new Array[Byte](h.nbytes)
      System.arraycopy(frame, 16, out, 0, h.nbytes)
      return out
    }
    val blocksize = if (h.blocksize > 0) h.blocksize else h.nbytes
    val nblocks = ((h.nbytes.toLong + blocksize - 1) / blocksize).toInt
    val out = new Array[Byte](h.nbytes)
    val doShuffle = (h.flags & FlagShuffle) != 0
    // an unshuffled block decodes straight into `out`; a shuffled one
    // decodes into this thread's scratch block and unshuffles into `out`
    val block = if (doShuffle) scratch.get.take(0, math.min(blocksize, h.nbytes)) else null
    var k = 0
    while (k < nblocks) {
      val off = k * blocksize
      val neblock = math.min(blocksize, h.nbytes - off)
      val bstart = readLE(frame, 16 + 4 * k)
      val csize = readLE(frame, bstart)
      if (csize == neblock) {
        // stored raw
        if (doShuffle) unshuffleInto(frame, bstart + 4, neblock, h.typesize, out, off)
        else System.arraycopy(frame, bstart + 4, out, off, neblock)
      } else {
        val n =
          if (doShuffle) Zstd.decompressByteArray(block, 0, neblock, frame, bstart + 4, csize)
          else Zstd.decompressByteArray(out, off, neblock, frame, bstart + 4, csize)
        require(n == neblock, s"zstd decoded $n of expected $neblock bytes")
        if (doShuffle) unshuffleInto(block, 0, neblock, h.typesize, out, off)
      }
      k += 1
    }
    out
  }
}
