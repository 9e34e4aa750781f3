package graft.core

/** One Zarr chunk of a 5-D TCZYX stack — the engine's core array record.
  *
  * Mirrors the reference's data model (SURVEY.md §1): dense pixels of the
  * source file's dtype ([[PixelDtype]]: u8, u16 or f32), canonical 5-D
  * TCZYX with t/c singleton (reference assumes one channel per CZI file,
  * `utils.py:355`), chunk grid indices + actual chunk shape (edge chunks
  * are clamped, reference `czi_to_zarr.py:153-161`).
  *
  * `data` holds the pixels' little-endian bytes in C (row-major, x
  * fastest) order — exactly the bytes a Zarr v2 chunk file of that dtype
  * contains before compression. The kernels (chunk cut and assembly,
  * pyramid, codec) work on these bytes for every dtype; unsigned pixels
  * are read masked into Int/Long, never through the JVM's signed
  * Byte/Short arithmetic (SURVEY.md §7.5 hard part #2).
  *
  * @param stack logical stack (image) name
  * @param level pyramid level (0 = full resolution)
  * @param t,c,z,y,x chunk-grid indices (not voxel coords)
  * @param shape actual chunk shape [t,c,z,y,x] after edge clamping
  * @param data  LE pixel bytes, length = shape.product * dtype.itemSize
  */
final case class ZarrChunk(
    stack: String,
    level: Int,
    t: Int, c: Int, z: Int, y: Int, x: Int,
    shape: Array[Int],
    data: Array[Byte]) {

  def numVoxels: Int = shape.product

  /** Decode u16 pixels to unsigned values in an Int array (tests and
    * gate queries; the kernels stay on `data`). */
  def pixels: Array[Int] = PixelCodec.toInts(data)
}

/** Pixel dtype of a volume — inherited from the source file like the
  * reference (`czi_to_zarr.py:589`, `dtype=czi.dtype`). */
sealed abstract class PixelDtype(val itemSize: Int, val zarrName: String)
object PixelDtype {
  case object U8 extends PixelDtype(1, "|u1")
  case object U16 extends PixelDtype(2, "<u2")
  case object F32 extends PixelDtype(4, "<f4")

  def fromZarr(name: String): PixelDtype = name match {
    case "|u1" => U8
    case "<u2" => U16
    case "<f4" => F32
    case other => throw new IllegalArgumentException(s"unsupported zarr dtype $other")
  }
}

object PixelCodec {
  /** LE uint16 bytes -> Int array with unsigned semantics. */
  def toInts(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (bytes(2 * i) & 0xFF) | ((bytes(2 * i + 1) & 0xFF) << 8)
      i += 1
    }
    out
  }

  /** Int array (0..65535) -> LE uint16 bytes. Values are masked, not checked. */
  def toBytes(pixels: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](pixels.length * 2)
    var i = 0
    while (i < pixels.length) {
      out(2 * i) = (pixels(i) & 0xFF).toByte
      out(2 * i + 1) = ((pixels(i) >>> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** uint8 bytes -> Int array with unsigned semantics. */
  def u8ToInts(bytes: Array[Byte]): Array[Int] = bytes.map(_ & 0xFF)

  /** Int array (0..255) -> uint8 bytes (masked). */
  def u8ToBytes(pixels: Array[Int]): Array[Byte] = pixels.map(v => (v & 0xFF).toByte)

  /** LE float32 bytes -> Float array. */
  def f32ToFloats(bytes: Array[Byte]): Array[Float] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](bytes.length / 4)
    bb.asFloatBuffer().get(out)
    out
  }

  /** Float array -> LE float32 bytes. */
  def f32ToBytes(pixels: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(pixels.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(pixels)
    bb.array()
  }

  /** Generic unsigned-int decode for U8/U16 dtypes. */
  def toInts(bytes: Array[Byte], dtype: PixelDtype): Array[Int] = dtype match {
    case PixelDtype.U8 => u8ToInts(bytes)
    case PixelDtype.U16 => toInts(bytes)
    case PixelDtype.F32 =>
      throw new IllegalArgumentException("float pixels: use f32ToFloats")
  }

  def fromInts(pixels: Array[Int], dtype: PixelDtype): Array[Byte] = dtype match {
    case PixelDtype.U8 => u8ToBytes(pixels)
    case PixelDtype.U16 => toBytes(pixels)
    case PixelDtype.F32 =>
      throw new IllegalArgumentException("float pixels: use f32ToBytes")
  }
}
