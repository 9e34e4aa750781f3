package perfbench

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Path

import org.apache.hadoop.fs.{Path => HPath}

import graft.core.{Blosc, PixelDtype}
import graft.operators.Pyramid
import graft.sources.czi.{CziReader, CziSource}

/** Single-thread replays of the conversion's kernels on a workload's own
  * subblocks and chunks, each recorded as a span. Rates are MB (10^6
  * bytes) of raw voxels per second; each kernel runs `reps` times over at
  * most `capBytes` of input and reports its fastest repetition. */
final class Kernels(trace: Trace, capBytes: Long, reps: Int = 3) {

  private def best(name: String, bytes: Long)(body: => Unit): Double = {
    val secs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      trace.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    bytes / 1e6 / secs.min
  }

  /** `CziReader.index` over every stack: seconds for one sweep. */
  def index(files: Seq[Path]): Double = {
    val secs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      trace.span("czi.index")(files.foreach(f => CziReader.index(f.toString)))
      (System.nanoTime() - t0) / 1e9
    }
    secs.sorted.apply(reps / 2)
  }

  /** Raw payloads of the first subblocks (public ZISRAW layout: 32-byte
    * segment header, 16-byte fixed part, then the directory entry padded to
    * 256 bytes and the metadata, before the data). */
  private def payloads(files: Seq[Path]): Seq[(Array[Byte], graft.sources.czi.CziFormat.SubBlockEntry)] = {
    var budget = capBytes
    files.flatMap { f =>
      val idx = CziReader.index(f.toString)
      val raf = new RandomAccessFile(f.toFile, "r")
      try idx.entries.iterator.takeWhile(_ => budget > 0).map { e =>
        val fixed = new Array[Byte](16)
        raf.seek(e.filePosition + 32); raf.readFully(fixed)
        val bb = ByteBuffer.wrap(fixed).order(ByteOrder.LITTLE_ENDIAN)
        val metadataSize = bb.getInt; bb.getInt
        val dataSize = bb.getLong.toInt
        val off = math.max(256, 16 + 32 + 20 * e.dims.size) + metadataSize
        val raw = new Array[Byte](dataSize)
        raf.seek(e.filePosition + 32 + off); raf.readFully(raw)
        budget -= e.dims.valuesIterator.map(_.size.toLong).product * 2
        (raw, e)
      }.toList finally raf.close()
    }
  }

  /** `CziReader.decode` over the first subblocks. */
  def decode(files: Seq[Path]): Double = {
    val ps = payloads(files)
    val bytes = ps.map { case (_, e) => e.dims.valuesIterator.map(_.size.toLong).product * 2 }.sum
    best("czi.decode", bytes)(ps.foreach { case (raw, e) => CziReader.decode(raw, e) })
  }

  /** `CziSource.slabChunks` (read, decode, scatter, cut) over the first
    * slabs; returns the rate and the level-0 chunks it produced. */
  def slabs(files: Seq[Path], chunk: Array[Int]): (Double, Seq[(Array[Int], Array[Byte])]) = {
    val jobs = {
      var budget = capBytes
      files.iterator.flatMap { f =>
        val (vol, idx) = CziSource.volume(f.toString, "replay", chunk)
        val slabBytes = chunk(0).toLong * vol.shape(3) * vol.shape(4) * 2
        val n = math.ceil(vol.shape(2).toDouble / chunk(0)).toInt
        (0 until n).iterator.takeWhile { _ => val go = budget > 0; budget -= slabBytes; go }
          .map(s => (f, vol, idx, s))
      }.toList
    }
    var out = Seq.empty[(Array[Int], Array[Byte])]
    val bytes = jobs.map { case (_, vol, _, s) =>
      math.min(chunk(0).toLong, vol.shape(2) - s * chunk(0)) * vol.shape(3) * vol.shape(4) * 2 }.sum
    val rate = best("czi.slab", bytes) {
      out = jobs.flatMap { case (f, vol, idx, s) =>
        val p = new HPath(f.toString)
        val in = p.getFileSystem(graft.core.HadoopConf.get).open(p)
        try CziSource.slabChunks(in, idx.entries.toArray, vol.shape, vol.chunk, idx.origin, 2, 0, 0, s)
          .map { case (_, _, shape, data) => (shape, data) }.toList
        finally in.close()
      }
    }
    (rate, out)
  }

  def pyramid(chunks: Seq[(Array[Int], Array[Byte])]): Double =
    best("pyramid.kernel", chunks.map(_._2.length.toLong).sum)(
      chunks.foreach { case (s, d) => Pyramid.downsampleBytes(d, s, Array(2, 2, 2), PixelDtype.U16) })

  def shuffle(chunks: Seq[(Array[Int], Array[Byte])]): Double =
    best("blosc.shuffle", chunks.map(_._2.length.toLong).sum)(chunks.foreach(c => Blosc.shuffle(c._2, 2)))

  /** Encode rate, decode rate and compression ratio of `Blosc` on the chunks. */
  def blosc(chunks: Seq[(Array[Int], Array[Byte])]): (Double, Double, Double) = {
    val raw = chunks.map(_._2.length.toLong).sum
    var frames = Seq.empty[Array[Byte]]
    val enc = best("blosc.encode", raw) { frames = chunks.map(c => Blosc.compress(c._2, 2, 3)) }
    val dec = best("blosc.decode", raw)(frames.foreach(Blosc.decompress))
    (enc, dec, raw.toDouble / frames.map(_.length.toLong).sum)
  }

  /** Single-thread `System.arraycopy` between two arrays of `bytes` each. */
  def memcpy(bytes: Int): Double = {
    val src = new Array[Byte](bytes)
    java.util.Arrays.fill(src, 1.toByte)
    val dst = new Array[Byte](bytes)
    System.arraycopy(src, 0, dst, 0, bytes) // first touch of dst
    best("machine.memcpy", bytes)(System.arraycopy(src, 0, dst, 0, bytes))
  }
}
