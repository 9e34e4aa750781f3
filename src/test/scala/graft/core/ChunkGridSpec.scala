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

  test("jumps mirror generate_jumps (utils.py:398-415)") {
    assert(ChunkGrid.jumps(300, 128) == Seq(0L, 128L, 256L))
    assert(ChunkGrid.jumps(128, 128) == Seq(0L))
  }

  test("expandChunksIso grows toward target like zarr_writer.expand_chunks") {
    // 128^3 uint16 chunk = 4 MiB; target 32 MiB -> k=2 -> 256^3
    val out = ChunkGrid.expandChunksIso(Array(128, 128, 128), Array(1024L, 1024L, 1024L),
      targetBytes = 32L * 1024 * 1024, itemSize = 2)
    assert(out.toSeq == Seq(256L, 256L, 256L))
    // clamped by array shape
    val out2 = ChunkGrid.expandChunksIso(Array(128, 128, 128), Array(128L, 4096L, 4096L),
      targetBytes = 1L << 40, itemSize = 2)
    assert(out2(0) == 128L)
  }

  test("expandChunksCycle doubles axes round-robin under the target") {
    // 2-byte items, start 16^3 (8 KiB): target 64 KiB -> x2 on every axis
    val out = ChunkGrid.expandChunksCycle(Array(16, 16, 16), Array(1024L, 1024L, 1024L),
      targetBytes = 64L * 1024, itemSize = 2)
    assert(out.toSeq == Seq(32L, 32L, 32L))
    // clamped to shape: first axis cannot grow past 16
    val out2 = ChunkGrid.expandChunksCycle(Array(16, 16, 16), Array(16L, 1024L, 1024L),
      targetBytes = 1L << 30, itemSize = 2)
    assert(out2(0) == 16L && out2(1) > 16L)
  }
}
