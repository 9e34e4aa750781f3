package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ChunkGridSpec extends AnyFunSuite {

  test("ceilDiv") {
    assert(ChunkGrid.ceilDiv(10, 5) == 2)
    assert(ChunkGrid.ceilDiv(11, 5) == 3)
    assert(ChunkGrid.ceilDiv(1, 128) == 1)
  }

  test("grid shape and chunk count (reference ceil semantics)") {
    val shape = Array(1L, 1L, 300L, 256L, 129L)
    val chunk = Array(1, 1, 128, 128, 128)
    assert(ChunkGrid.gridShape(shape, chunk).toSeq == Seq(1L, 1L, 3L, 2L, 2L))
    assert(ChunkGrid.numChunks(shape, chunk) == 12L)
  }

  test("flat index <-> coords is a bijection in row-major order") {
    val grid = Array(1L, 2L, 3L, 4L, 5L)
    val seen = scala.collection.mutable.Set[Seq[Long]]()
    for (flat <- 0L until grid.product) {
      val c = ChunkGrid.chunkCoords(flat, grid)
      assert(c.indices.forall(i => c(i) >= 0 && c(i) < grid(i)))
      seen += c.toSeq
    }
    assert(seen.size == grid.product)
    // last axis fastest
    assert(ChunkGrid.chunkCoords(1, grid).toSeq == Seq(0L, 0L, 0L, 0L, 1L))
  }

  test("edge chunks clamp to array bounds (czi_to_zarr.py:153-161)") {
    val shape = Array(1L, 1L, 300L, 256L, 129L)
    val chunk = Array(1, 1, 128, 128, 128)
    assert(ChunkGrid.clampedChunkShape(Array(0, 0, 2, 1, 1), shape, chunk).toSeq ==
      Seq(1, 1, 44, 128, 1))
    assert(ChunkGrid.clampedChunkShape(Array(0, 0, 0, 0, 0), shape, chunk).toSeq ==
      Seq(1, 1, 128, 128, 128))
  }

  test("downsampled shape uses ceil (czi_to_zarr.py:185-187)") {
    assert(ChunkGrid.downsampledShape(Array(1L, 1L, 5L, 5L, 5L), Array(1, 1, 2, 2, 2)).toSeq ==
      Seq(1L, 1L, 3L, 3L, 3L))
    assert(ChunkGrid.downsampledShape(Array(1L, 1L, 256L, 256L, 256L), Array(1, 1, 2, 2, 2)).toSeq ==
      Seq(1L, 1L, 128L, 128L, 128L))
  }
}
