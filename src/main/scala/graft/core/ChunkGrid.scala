package graft.core

/** Chunk-grid arithmetic for dense n-D arrays.
  *
  * Pure driver/executor math mirroring the reference's grid handling:
  * ceil-division level shapes (`czi_to_zarr.py:185-187`), chunk clamping to
  * the array bounds (`czi_to_zarr.py:153-161`) and downsampled shapes. All
  * functions are total and allocation-light; the distributed enumeration
  * of chunks happens via `spark.range` over
  * [[numChunks]] + [[chunkCoords]], never a driver-side collect
  * (SURVEY.md §7.5 hard part #6 — at 100 TB the grid has billions of
  * chunks and must only ever exist as arithmetic).
  */
object ChunkGrid {

  /** ceil(a / b) for positive longs. */
  def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** Number of chunks along each axis: ceil(shape / chunk). */
  def gridShape(shape: Array[Long], chunk: Array[Int]): Array[Long] = {
    require(shape.length == chunk.length, s"rank mismatch ${shape.length} vs ${chunk.length}")
    shape.indices.map(i => ceilDiv(shape(i), chunk(i))).toArray
  }

  /** Total chunk count (flat grid size). */
  def numChunks(shape: Array[Long], chunk: Array[Int]): Long =
    gridShape(shape, chunk).product

  /** Flat chunk index -> per-axis chunk coords (row-major, last axis fastest). */
  def chunkCoords(flat: Long, grid: Array[Long]): Array[Long] = {
    val out = new Array[Long](grid.length)
    var rem = flat
    var i = grid.length - 1
    while (i >= 0) {
      out(i) = rem % grid(i)
      rem /= grid(i)
      i -= 1
    }
    out
  }

  /** Actual shape of the chunk at grid coords (edge chunks clamped),
    * mirroring `czi_to_zarr.py:153-161`. */
  def clampedChunkShape(coords: Array[Long], shape: Array[Long], chunk: Array[Int]): Array[Int] =
    coords.indices.map { i =>
      val start = coords(i) * chunk(i)
      math.min(chunk(i).toLong, shape(i) - start).toInt
    }.toArray

  /** Downsampled shape after one windowed-mean step: ceil(shape / factor)
    * per axis (`czi_to_zarr.py:185-187`, np.ceil semantics). */
  def downsampledShape(shape: Array[Long], factor: Array[Int]): Array[Long] =
    shape.indices.map(i => ceilDiv(shape(i), factor(i))).toArray
}
