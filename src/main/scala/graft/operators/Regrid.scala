package graft.operators

import org.apache.spark.sql.Dataset

import graft.core.{ChunkGrid, Volume, ZarrChunk}

/** The regrid kernel: cutting z/y/x boxes out of row-major byte buffers
  * and assembling shuffled pieces into chunks. Every box copy in the
  * engine goes through here — the CZI scan's subblock-to-tile copy
  * ([[graft.sources.czi.CziSource.slabChunks]], [[copyBox]] alone), and
  * the cut and one-exchange assembly of [[Rechunk]] and the [[Pyramid]]
  * — so the piece layout and the strided-index arithmetic live in one
  * place. Buffers are dtype-agnostic bytes, C order (x fastest). The
  * pieces of one chunk never overlap: the pyramid's come from disjoint
  * input chunks, [[Rechunk]]'s from disjoint source chunks, and mosaic
  * overlap is settled inside the CZI scan, in directory order.
  */
object Regrid {

  /** One box of voxels bound for one target chunk: `out` indexes
    * [[assemble]]'s `outs`, `t..x` are the chunk's grid coordinates,
    * `oz/oy/ox` the box's offset inside it, `nz/ny/nx` its extent and
    * `data` its voxels. The pieces of one chunk never overlap. */
  final case class Piece(out: Int, t: Int, c: Int, z: Int, y: Int, x: Int,
                         oz: Int, oy: Int, ox: Int, nz: Int, ny: Int, nx: Int,
                         data: Array[Byte])

  /** Copies the z/y/x `box` at `srcAt` of `src` (extents `srcDims`) to
    * `dstAt` of `dst` (extents `dstDims`); items are `itemSize` bytes.
    * Rows that are contiguous in both buffers go in one copy. */
  def copyBox(src: Array[Byte], srcDims: Array[Int], srcAt: Array[Int],
              dst: Array[Byte], dstDims: Array[Int], dstAt: Array[Int],
              box: Array[Int], itemSize: Int): Unit = {
    val (nz, ny, nx) = (box(0), box(1), box(2))
    val whole = nx == srcDims(2) && nx == dstDims(2)
    val (rows, rowBytes) = if (whole) (1, ny * nx * itemSize) else (ny, nx * itemSize)
    var z = 0
    while (z < nz) {
      var y = 0
      while (y < rows) {
        val s = (((srcAt(0) + z).toLong * srcDims(1) + srcAt(1) + y) * srcDims(2) + srcAt(2)) * itemSize
        val d = (((dstAt(0) + z).toLong * dstDims(1) + dstAt(1) + y) * dstDims(2) + dstAt(2)) * itemSize
        System.arraycopy(src, s.toInt, dst, d.toInt, rowBytes)
        y += 1
      }
      z += 1
    }
  }

  /** Splits the box of `dims` voxels at global voxel origin `at` into
    * one piece per chunk of the `chunk` grid (z/y/x) it overlaps. A box
    * inside a single chunk passes `data` through uncopied. */
  def cut(out: Int, t: Int, c: Int, data: Array[Byte],
          at: Array[Long], dims: Array[Int], chunk: Array[Int], itemSize: Int): Iterator[Piece] = {
    def span(a: Int) = (at(a) / chunk(a)).toInt to ((at(a) + dims(a) - 1) / chunk(a)).toInt
    for {
      gz <- span(0).iterator
      gy <- span(1).iterator
      gx <- span(2).iterator
    } yield {
      val g = Array(gz, gy, gx)
      val lo = Array.tabulate(3)(a => math.max(at(a), g(a).toLong * chunk(a)))
      val n = Array.tabulate(3)(a => (math.min(at(a) + dims(a), (g(a) + 1).toLong * chunk(a)) - lo(a)).toInt)
      val bytes =
        if (n.sameElements(dims)) data
        else {
          val b = new Array[Byte](n.product * itemSize)
          copyBox(data, dims, Array.tabulate(3)(a => (lo(a) - at(a)).toInt), b, n, Array(0, 0, 0), n, itemSize)
          b
        }
      Piece(out, t, c, gz, gy, gx,
        (lo(0) - gz.toLong * chunk(0)).toInt, (lo(1) - gy.toLong * chunk(1)).toInt,
        (lo(2) - gx.toLong * chunk(2)).toInt, n(0), n(1), n(2), bytes)
    }
  }

  /** Assembles `pieces` into chunks with one exchange: each target chunk
    * of `outs(out)` is zero-filled at its clamped shape, then its pieces
    * are copied in as they arrive, in any order; no group is buffered. */
  def assemble(pieces: Dataset[Piece], outs: Seq[Volume]): Dataset[ZarrChunk] = {
    import pieces.sparkSession.implicits._
    val vols = outs.toArray
    pieces
      // Long coordinates (ChunkGrid's type): the key's types set its hash,
      // so which reducer and which coalesced task assembles each chunk
      .groupByKey(p => (p.out, p.t, p.c, p.z.toLong, p.y.toLong, p.x.toLong))
      .flatMapGroups { (key, it) =>
        val (o, t, c, z, y, x) = key
        val v = vols(o)
        val isz = v.dtype.itemSize
        val cs = ChunkGrid.clampedChunkShape(Array(t.toLong, c.toLong, z, y, x), v.shape, v.chunk)
        val dims = cs.drop(2)
        val buf = new Array[Byte](cs.product * isz)
        it.foreach { p =>
          val box = Array(p.nz, p.ny, p.nx)
          copyBox(p.data, box, Array(0, 0, 0), buf, dims, Array(p.oz, p.oy, p.ox), box, isz)
        }
        Iterator.single(ZarrChunk(v.stack, v.level, t, c, z.toInt, y.toInt, x.toInt, cs, buf))
      }
  }
}
