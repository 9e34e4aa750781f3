package graft.operators

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

  test("asymmetric factor (1,2,2) halves only y/x") {
    val (px, shape) = mk(2, 4, 4)((z, y, x) => z * 100 + y * 4 + x)
    val (out, os) = down(px, shape, Array(1, 2, 2))
    assert(os.toSeq == Seq(1, 1, 2, 2, 2))
    // window (z=1, yb=0, xb=0): voxels y,x in {0,1}: 100+0,100+1,100+4,100+5 -> mean 102
    assert(out(1 * 4 + 0) == 102)
  }
}
