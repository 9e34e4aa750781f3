package graft.core

/** Descriptor of one 5-D TCZYX chunked volume at one pyramid level.
  *
  * Pure metadata — the chunk grid only ever exists as arithmetic
  * ([[ChunkGrid]]), never as a collected list, so a 100 TB volume
  * (billions of chunks) plans in O(1) driver memory.
  */
final case class Volume(
    stack: String,
    level: Int,
    shape: Array[Long],  // [t,c,z,y,x] voxels
    chunk: Array[Int],   // [t,c,z,y,x] chunk shape (e.g. [1,1,128,128,128])
    dtype: PixelDtype = PixelDtype.U16) {

  require(shape.length == 5 && chunk.length == 5, "Volume is canonically 5-D TCZYX")
  require(chunk.map(_.toLong).product * dtype.itemSize <= Volume.MaxChunkBytes,
    s"chunk ${chunk.drop(2).mkString("x")} of ${dtype.itemSize}-byte items is over " +
      s"${Volume.MaxChunkBytes} bytes, the most one chunk can hold")

  def grid: Array[Long] = ChunkGrid.gridShape(shape, chunk)
  def numChunks: Long = grid.product

  /** Volume for the next pyramid level: ceil(shape/factor) per spatial
    * axis (reference `czi_to_zarr.py:185-187`), same chunk shape. */
  def downsampled(factorZyx: Array[Int]): Volume = {
    val f = Array(1, 1, factorZyx(0), factorZyx(1), factorZyx(2))
    copy(level = level + 1, shape = ChunkGrid.downsampledShape(shape, f))
  }
}

object Volume {

  /** The largest chunk, in bytes. A chunk is one JVM byte array, and so
    * is its Blosc v1 frame: the chunk plus a 16-byte header whose
    * `nbytes` is 32-bit. Both must fit the largest array every JVM
    * allocates, Int.MaxValue - 8 elements. Every grid, read or derived,
    * is a [[Volume]], so this one bound fails an oversized chunk shape at
    * planning, not as an overflowed buffer size inside a task. */
  val MaxChunkBytes: Long = Int.MaxValue - 8L - 16L
}
