package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{PixelCodec, PixelDtype, Volume}

/** Byte pins of [[Pyramid.build]]: one SHA-256 per case over every
  * output chunk's coordinates, shape and bytes, sorted by (level, z, y,
  * x). The dense oracle ([[PyramidUnalignedSpec.brute]]) checks values;
  * these pins also catch a change in the f32 summing order, which the
  * oracle's exactly summable f32 values cannot. */
class PyramidPinSpec extends AnyFunSuite {
  import PyramidUnalignedSpec.{Dense, chunks}

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-pin-test")

  /** SHA-256 (hex) of every level above 0 built from `l0` in `chunk`s. */
  private def pin(l0: Dense, chunk: Seq[Int], f: Array[Int], nLevels: Int, dtype: PixelDtype): String = {
    import spark.implicits._
    val vol = Volume("pin", 0, Array(1L, 1L) ++ l0.dims.map(_.toLong), Array(1, 1) ++ chunk, dtype)
    val (_, all) = Pyramid.build(spark,
      spark.createDataset(spark.sparkContext.parallelize(chunks(l0, vol), 3)), vol, nLevels, f)
    val md = MessageDigest.getInstance("SHA-256")
    val got = all.collect().sortBy(ck => (ck.level, ck.z, ck.y, ck.x))
    if (dtype == PixelDtype.F32)
      assert(!got.exists(ck => PixelCodec.f32ToFloats(ck.data).exists(_.isNaN)), "a NaN pins no bytes")
    got.foreach { ck =>
      val head = ByteBuffer.allocate(4 * 11).order(ByteOrder.LITTLE_ENDIAN)
      Seq(ck.level, ck.t, ck.c, ck.z, ck.y, ck.x).foreach(head.putInt)
      ck.shape.foreach(head.putInt)
      md.update(head.array)
      md.update(ck.data)
    }
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }

  private def ints(dims: Array[Int], seed: Long, bound: Int): Dense = {
    val rnd = new scala.util.Random(seed)
    Dense(dims, Array.fill(dims.product)(rnd.nextInt(bound).toDouble))
  }

  test("u8 in 16^3 chunks, factor 2, 4 levels") {
    assert(pin(ints(Array(37, 40, 45), 11L, 256), Seq(16, 16, 16), Array(2, 2, 2), 4,
      PixelDtype.U8) ==
      "e97c25097d93c3a3c6e97ba73a559e888b7f9ea4e7fbf80a2986290b6511c599")
  }

  test("u16 in 16^3 chunks, factor 2, 4 levels") {
    assert(pin(ints(Array(37, 40, 45), 12L, 65536), Seq(16, 16, 16), Array(2, 2, 2), 4,
      PixelDtype.U16) ==
      "7c99aa849e50aa1ac5c731178313a1000434523e8f5cbfc97994ea96e8abfd24")
  }

  test("u16 in 5^3 chunks, factor 2, 3 levels (re-cut rounds)") {
    assert(pin(ints(Array(23, 19, 21), 13L, 65536), Seq(5, 5, 5), Array(2, 2, 2), 3,
      PixelDtype.U16) ==
      "f07ba7fddd5141bdfbc134dee8e8208d0016d89918c5e9c584b90a350acb0a82")
  }

  /** `dims` of f32 values whose window sums depend on the summing order.
    * +-2^100 cancel each other exactly and swallow anything small added
    * before them, so a window's mean changes with the order; the rest are
    * magnitudes from 2^-30 to 2^30 of both signs, -0.0, subnormals,
    * +-Float.MaxValue and +Inf (no NaN or -Inf: a NaN's sign bit depends
    * on the JIT tier, not on the kernel). */
  private def orderSensitive(dims: Array[Int], seed: Long): Dense = {
    val rnd = new scala.util.Random(seed)
    val special = Array(-0.0f, Float.MinPositiveValue, 3 * Float.MinPositiveValue,
      -Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue, Float.PositiveInfinity)
    val v = Array.fill(dims.product) {
      val sign = if (rnd.nextBoolean()) 1 else -1
      rnd.nextInt(16) match {
        case 0 => special(rnd.nextInt(special.length))
        case 1 | 2 | 3 | 4 => sign * math.pow(2, 100).toFloat
        case _ => (sign * (1 + rnd.nextFloat()) * math.pow(2, rnd.nextInt(61) - 30)).toFloat
      }
    }
    Dense(dims, v.map(_.toDouble))
  }

  test("f32 with order-sensitive sums, factor (1, 2, 3), 3 levels") {
    assert(pin(orderSensitive(Array(7, 26, 40), 14L), Seq(4, 8, 9), Array(1, 2, 3), 3,
      PixelDtype.F32) ==
      "34684cce75bd44e25250d439586712618b83af22b4bd3649a58c4c46a8559e62")
  }

  test("f32 with order-sensitive sums, factor 2, 3 levels (even and odd chunk shapes)") {
    // f32 at the reference's factor: full 8x8x12 chunks hold only full
    // windows, while the array's last chunks (5, 2 and 1 voxels deep) and
    // the level-2 pieces of 12-wide x (3 voxels) end in partial ones
    assert(pin(orderSensitive(Array(21, 26, 37), 15L), Seq(8, 8, 12), Array(2, 2, 2), 3,
      PixelDtype.F32) ==
      "63672566bfdf713ec3586c5d4a1c98984452ca66a4834d4de897ba29af7b6edb")
  }
}
