package graft.core

/** Chunk-grid arithmetic for dense n-D arrays.
  *
  * Pure driver/executor math mirroring the reference's grid handling:
  * ceil-division level shapes (`czi_to_zarr.py:185-187`), chunk clamping to
  * the array bounds (`czi_to_zarr.py:153-161`), z-slab jump generation
  * (`utils.py:398-415`), and the superblock size optimizer
  * (`zarr_writer.py:51-120`). All functions are total and allocation-light;
  * the distributed enumeration of chunks happens via `spark.range` over
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

  /** Start offsets of consecutive slabs of size `jump` along an axis of
    * length `len` — reference `generate_jumps` (`utils.py:398-415`). */
  def jumps(len: Long, jump: Int): Seq[Long] =
    (0L until len by jump.toLong)

  /** Grow a chunk shape toward `targetBytes` as in the reference's
    * superblock planner `expand_chunks` (`zarr_writer.py:51-120`), iso
    * mode: multiply every axis by the largest integer k with
    * k^rank * chunkBytes <= targetBytes, clamped to the array shape.
    * Returns the superblock shape in voxels. The conversion job does not
    * use it: adaptive execution sizes its tasks.
    */
  def expandChunksIso(chunk: Array[Int], shape: Array[Long], targetBytes: Long, itemSize: Int): Array[Long] = {
    val base = chunk.map(_.toLong)
    def sizeOf(mult: Long): Long =
      base.indices.map(i => math.min(base(i) * mult, shape(i))).product * itemSize
    var k = 1L
    while (sizeOf(k + 1) <= targetBytes && sizeOf(k + 1) > sizeOf(k)) k += 1
    base.indices.map(i => math.min(base(i) * k, shape(i))).toArray
  }

  /** Cycle mode of the same planner (`zarr_writer.py:85-99`): double one
    * axis per round-robin step while the block stays under target, clamped
    * to the array shape. */
  def expandChunksCycle(chunk: Array[Int], shape: Array[Long], targetBytes: Long, itemSize: Int): Array[Long] = {
    val cur = chunk.map(_.toLong)
    def size(c: Array[Long]): Long = c.product * itemSize
    var axis = 0
    var stalled = 0
    while (stalled < chunk.length) {
      val next = cur.clone()
      next(axis) = math.min(next(axis) * 2, shape(axis))
      if (next(axis) > cur(axis) && size(next) <= targetBytes) {
        cur(axis) = next(axis)
        stalled = 0
      } else stalled += 1
      axis = (axis + 1) % chunk.length
    }
    cur
  }
}
