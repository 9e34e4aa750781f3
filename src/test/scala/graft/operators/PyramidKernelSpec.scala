package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PixelCodec, PixelDtype}

/** Pure-kernel tests of the windowed mean against analytic values
  * (FIXTURES.md §1.5 — golden coverage the reference lacks). */
class PyramidKernelSpec extends AnyFunSuite {

  private def mk(sz: Int, sy: Int, sx: Int)(f: (Int, Int, Int) => Int): (Array[Int], Array[Int]) = {
    val px = new Array[Int](sz * sy * sx)
    for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx)
      px(z * sy * sx + y * sx + x) = f(z, y, x)
    (px, Array(1, 1, sz, sy, sx))
  }

  /** The kernel on `px` as u16, decoded back to Ints. */
  private def down(px: Array[Int], shape: Array[Int], f: Array[Int]): (Array[Int], Array[Int]) = {
    val (out, os) = Pyramid.downsampleBytes(PixelCodec.toBytes(px), shape, f, PixelDtype.U16)
    (PixelCodec.toInts(out), os)
  }

  test("constant field stays constant") {
    val (px, shape) = mk(4, 4, 4)((_, _, _) => 777)
    val (out, os) = down(px, shape, Array(2, 2, 2))
    assert(os.toSeq == Seq(1, 1, 2, 2, 2))
    assert(out.forall(_ == 777))
  }

  test("2x2x2 mean of a linear ramp") {
    // v(z,y,x) = 8z + 4y + 2x ; window mean = 8zb+4yb+2xb + (8+4+2)/2 = ... exact
    val (px, shape) = mk(4, 4, 4)((z, y, x) => 8 * z + 4 * y + 2 * x)
    val (out, os) = down(px, shape, Array(2, 2, 2))
    for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 2) {
      val got = out(z * 4 + y * 2 + x)
      // mean is separable over the linear ramp: 16z+4 + 8y+2 + 4x+1
      val analytic = 16 * z + 8 * y + 4 * x + 7
      assert(got == analytic, s"($z,$y,$x) got=$got analytic=$analytic")
    }
  }

  test("odd shape: ceil windows with actual population divisor (5x5x5)") {
    val (px, shape) = mk(5, 5, 5)((z, y, x) => z * 25 + y * 5 + x)
    val (out, os) = down(px, shape, Array(2, 2, 2))
    assert(os.toSeq == Seq(1, 1, 3, 3, 3))
    // corner window (2,2,2) covers only voxel (4,4,4) -> value 124
    assert(out(2 * 9 + 2 * 3 + 2) == 124)
    // edge window (0,0,2): voxels (0..1, 0..1, 4): mean of 4,9,29,34 = 19
    assert(out(0 * 9 + 0 * 3 + 2) == (4 + 9 + 29 + 34) / 4)
    // interior window (0,0,0): voxels z,y,x in {0,1}: sum 0+1+5+6+25+26+30+31=124 -> 15 (floor)
    assert(out(0) == 124 / 8)
  }

  test("dtype preservation truncates like numpy astype(uint16) for pow-2 windows") {
    val (px, shape) = mk(2, 2, 2)((z, y, x) => if (z + y + x == 0) 0 else 1)
    val (out, _) = down(px, shape, Array(2, 2, 2))
    assert(out(0) == 0, "mean 7/8 = 0.875 truncates to 0")
  }

  test("uint16 values above Short.MaxValue survive (sign-safety)") {
    val (px, shape) = mk(2, 2, 2)((_, _, _) => 65535)
    val (out, _) = down(px, shape, Array(2, 2, 2))
    assert(out(0) == 65535)
    // and through the byte codec
    val bytes = PixelCodec.toBytes(out)
    assert(PixelCodec.toInts(bytes)(0) == 65535)
  }

  test("float32 kernel: double-accumulated mean cast to float") {
    val px = Array.tabulate(8)(i => i * 0.25f) // 2x2x2
    val (out, os) = Pyramid.downsampleBytes(PixelCodec.f32ToBytes(px), Array(1, 1, 2, 2, 2),
      Array(2, 2, 2), PixelDtype.F32)
    assert(os.toSeq == Seq(1, 1, 1, 1, 1))
    assert(PixelCodec.f32ToFloats(out)(0) == ((0 until 8).map(_ * 0.25).sum / 8).toFloat)
  }

  test("u8, u16 and f32 bytes give each dtype's mean") {
    val ints = Array.tabulate(8)(i => i * 30)
    val (bU8, _) = Pyramid.downsampleBytes(PixelCodec.u8ToBytes(ints), Array(1, 1, 2, 2, 2),
      Array(2, 2, 2), PixelDtype.U8)
    assert(PixelCodec.u8ToInts(bU8)(0) == ints.sum / 8)
    val (bU16, _) = Pyramid.downsampleBytes(PixelCodec.toBytes(ints), Array(1, 1, 2, 2, 2),
      Array(2, 2, 2), PixelDtype.U16)
    assert(PixelCodec.toInts(bU16)(0) == ints.sum / 8)
    val fl = ints.map(_.toFloat)
    val (bF32, _) = Pyramid.downsampleBytes(PixelCodec.f32ToBytes(fl), Array(1, 1, 2, 2, 2),
      Array(2, 2, 2), PixelDtype.F32)
    assert(PixelCodec.f32ToFloats(bF32)(0) == (fl.map(_.toDouble).sum / 8).toFloat)
  }

  /** The windowed mean one output voxel at a time, reading each input
    * voxel through a little-endian ByteBuffer: ceil-sized edge windows,
    * summed in z, y, x order (f32 in Double, integers in Long), floor
    * division for integers, the Double mean cast to Float for f32. */
  private def oracle(in: Array[Byte], dims: Seq[Int], f: Seq[Int], dtype: PixelDtype): Array[Byte] = {
    val src = ByteBuffer.wrap(in).order(ByteOrder.LITTLE_ENDIAN)
    val o = dims.indices.map(a => (dims(a) + f(a) - 1) / f(a))
    val out = ByteBuffer.allocate(o.product * dtype.itemSize).order(ByteOrder.LITTLE_ENDIAN)
    for (z <- 0 until o(0); y <- 0 until o(1); x <- 0 until o(2)) {
      var isum = 0L
      var fsum = 0.0
      var n = 0
      for (dz <- z * f(0) until math.min(z * f(0) + f(0), dims(0));
           dy <- y * f(1) until math.min(y * f(1) + f(1), dims(1));
           dx <- x * f(2) until math.min(x * f(2) + f(2), dims(2))) {
        val i = (dz * dims(1) + dy) * dims(2) + dx
        dtype match {
          case PixelDtype.U8 => isum += src.get(i) & 0xFF
          case PixelDtype.U16 => isum += src.getShort(2 * i) & 0xFFFF
          case PixelDtype.F32 => fsum += src.getFloat(4 * i)
        }
        n += 1
      }
      dtype match {
        case PixelDtype.U8 => out.put((isum / n).toByte)
        case PixelDtype.U16 => out.putShort((isum / n).toShort)
        case PixelDtype.F32 => out.putFloat((fsum / n).toFloat)
      }
    }
    out.array
  }

  /** `n` random voxels of `dtype` as little-endian bytes. f32 mixes
    * +-2^100, which cancel and swallow small values added before them (so
    * sums depend on their order), with -0.0, subnormals, +-Float.MaxValue,
    * +Inf and ordinary magnitudes; no NaN or -Inf. */
  private def voxels(n: Int, dtype: PixelDtype, rnd: scala.util.Random): Array[Byte] = dtype match {
    case PixelDtype.F32 =>
      val special = Array(-0.0f, Float.MinPositiveValue, -Float.MinPositiveValue, Float.MaxValue,
        -Float.MaxValue, Float.PositiveInfinity)
      PixelCodec.f32ToBytes(Array.fill(n) {
        val sign = if (rnd.nextBoolean()) 1 else -1
        rnd.nextInt(8) match {
          case 0 => special(rnd.nextInt(special.length))
          case 1 | 2 => sign * math.pow(2, 100).toFloat
          case _ => (sign * (1 + rnd.nextFloat()) * math.pow(2, rnd.nextInt(41) - 20)).toFloat
        }
      })
    case _ => Array.fill(n * dtype.itemSize)(rnd.nextInt().toByte)
  }

  private val dtypes = Seq(PixelDtype.U8, PixelDtype.U16, PixelDtype.F32)

  test("every shape 1-9 per axis, factor 2, every dtype: bytes equal the per-voxel oracle") {
    val rnd = new scala.util.Random(31)
    for (sz <- 1 to 9; sy <- 1 to 9; sx <- 1 to 9; dtype <- dtypes) {
      val in = voxels(sz * sy * sx, dtype, rnd)
      val (out, os) = Pyramid.downsampleBytes(in, Array(1, 1, sz, sy, sx), Array(2, 2, 2), dtype)
      assert(os.toSeq == Seq(1, 1, (sz + 1) / 2, (sy + 1) / 2, (sx + 1) / 2))
      assert(out.sameElements(oracle(in, Seq(sz, sy, sx), Seq(2, 2, 2), dtype)), s"$sz x $sy x $sx $dtype")
    }
  }

  test("random shapes 1-9, factors in {1, 2, 3} per axis, every dtype: bytes equal the per-voxel oracle") {
    val cases = for {
      dims <- Gen.listOfN(3, Gen.choose(1, 9))
      f <- Gen.listOfN(3, Gen.oneOf(1, 2, 3))
      dtype <- Gen.oneOf(dtypes)
      seed <- Gen.long
    } yield (dims, f, dtype, seed)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAllNoShrink(cases) { case (dims, f, dtype, seed) =>
        val in = voxels(dims.product, dtype, new scala.util.Random(seed))
        val (out, _) = Pyramid.downsampleBytes(in, Array(1, 1) ++ dims, f.toArray, dtype)
        out.sameElements(oracle(in, dims, f, dtype))
      })
    assert(res.passed, Pretty.pretty(res))
  }

  test("asymmetric factor (1,2,2) halves only y/x") {
    val (px, shape) = mk(2, 4, 4)((z, y, x) => z * 100 + y * 4 + x)
    val (out, os) = down(px, shape, Array(1, 2, 2))
    assert(os.toSeq == Seq(1, 1, 2, 2, 2))
    // window (z=1, yb=0, xb=0): voxels y,x in {0,1}: 100+0,100+1,100+4,100+5 -> mean 102
    assert(out(1 * 4 + 0) == 102)
  }
}
