package graft.operators

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{PixelCodec, PixelDtype, Volume, ZarrChunk}
import graft.sources.SyntheticStack

/** Pyramids whose windows span chunk boundaries, or whose chunk is not a
  * multiple of the factor, must equal the whole-array dense oracle
  * ([[PyramidUnalignedSpec.brute]]) at every level, for any chunk shape,
  * factor, level count and dtype. */
class PyramidUnalignedSpec extends AnyFunSuite {
  import PyramidUnalignedSpec._

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-unaligned-test")

  /** Every level of [[Pyramid.build]] over `l0` in `chunk`-shaped chunks
    * equals the oracle; returns the levels, level 0 first. */
  private def buildChecked(l0: Dense, chunk: Seq[Int], f: Array[Int], nLevels: Int,
                           dtype: PixelDtype = PixelDtype.U16): Seq[Dense] = {
    import spark.implicits._
    val vol = Volume("un", 0, Array(1L, 1L) ++ l0.dims.map(_.toLong), Array(1, 1) ++ chunk, dtype)
    val (vols, all) = Pyramid.build(spark,
      spark.createDataset(spark.sparkContext.parallelize(chunks(l0, vol), 3)), vol, nLevels, f)
    val want = brute(l0, f, nLevels, dtype == PixelDtype.F32)
    assert(vols.map(_.shape.drop(2).toSeq) == want.tail.map(_.dims.map(_.toLong).toSeq))
    val got = all.collect()
    l0 +: (1 until nLevels).map { k =>
      val d = densify(got.filter(_.level == k), want(k).dims, vol)
      assert(d.v.sameElements(want(k).v), s"level $k differs from the dense oracle")
      d
    }
  }

  test("chunk 5^3 over an 11^3 array, factor 2: spanning windows are exact") {
    val levels = buildChecked(synthetic(Array(11, 11, 11)), Seq(5, 5, 5), Array(2, 2, 2), 2)
    assert(levels(1).dims.toSeq == Seq(6, 6, 6))
  }

  test("aligned config: unaligned path equals the fast path chunk-for-chunk") {
    // the same array in 4^3 chunks (chunk % 2 == 0) and in 5^3 chunks
    // (re-cut before halving) gives equal voxels at every level
    val l0 = synthetic(Array(12, 12, 12))
    val in4 = buildChecked(l0, Seq(4, 4, 4), Array(2, 2, 2), 2)
    val in5 = buildChecked(l0, Seq(5, 5, 5), Array(2, 2, 2), 2)
    in4.zip(in5).foreach { case (a, b) =>
      assert(a.dims.sameElements(b.dims) && a.v.sameElements(b.v))
    }
  }

  test("factor 3 with non-multiple chunk: still exact") {
    val levels = buildChecked(synthetic(Array(10, 10, 10)), Seq(4, 4, 4), Array(3, 3, 3), 2)
    assert(levels(1).dims.toSeq == Seq(4, 4, 4))
  }

  test("random shapes, chunks, factors, levels and dtypes: every level equals the dense oracle") {
    val cases = for {
      dims <- Gen.listOfN(3, Gen.choose(1, 19))
      chunk <- Gen.listOfN(3, Gen.choose(1, 9))
      f <- Gen.listOfN(3, Gen.choose(1, 3))
      nLevels <- Gen.choose(1, 5)
      dtype <- Gen.oneOf(PixelDtype.U8, PixelDtype.U16, PixelDtype.F32)
      seed <- Gen.long
    } yield (dims, chunk, f, nLevels, dtype, seed)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAllNoShrink(cases) { case (dims, chunk, f, nLevels, dtype, seed) =>
        val rnd = new scala.util.Random(seed)
        // f32 values are multiples of 1/256 below 4096: their double sums
        // are exact in any order
        val value: () => Double = dtype match {
          case PixelDtype.U8 => () => rnd.nextInt(256).toDouble
          case PixelDtype.U16 => () => rnd.nextInt(65536).toDouble
          case _ => () => rnd.nextInt(4096 * 256) / 256.0
        }
        val l0 = Dense(dims.toArray, Array.fill(dims.product)(value()))
        buildChecked(l0, chunk, f.toArray, nLevels, dtype)
        true
      })
    assert(res.passed, Pretty.pretty(res))
  }
}

/** The dense pyramid oracle. It shares no code with [[Pyramid]]: each
  * level is computed over the whole previous level at once, so chunking
  * cannot enter it. */
object PyramidUnalignedSpec extends Assertions {

  /** One level as dense values, z/y/x row-major (t = c = 0). */
  final case class Dense(dims: Array[Int], v: Array[Double])

  /** The synthetic stack's voxel function over `dims`. */
  def synthetic(dims: Array[Int]): Dense =
    Dense(dims, Array.tabulate(dims.product) { i =>
      SyntheticStack.value(i / (dims(1) * dims(2)), i / dims(2) % dims(1), i % dims(2)).toDouble
    })

  /** Levels 0..nLevels-1 from `l0`: level k + 1 is the windowed mean of
    * the whole level k, windows `f` wide with ceil-sized edge windows,
    * summed in z/y/x order in double; integer dtypes floor the mean,
    * f32 casts it to float. */
  def brute(l0: Dense, f: Array[Int], nLevels: Int, float: Boolean): Seq[Dense] =
    Iterator.iterate(l0) { in =>
      val Array(sz, sy, sx) = in.dims
      val o = Array.tabulate(3)(a => (in.dims(a) + f(a) - 1) / f(a))
      val out = new Array[Double](o.product)
      for (z <- 0 until o(0); y <- 0 until o(1); x <- 0 until o(2)) {
        var sum = 0.0; var n = 0
        for (dz <- z * f(0) until math.min(z * f(0) + f(0), sz);
             dy <- y * f(1) until math.min(y * f(1) + f(1), sy);
             dx <- x * f(2) until math.min(x * f(2) + f(2), sx)) {
          sum += in.v((dz * sy + dy) * sx + dx); n += 1
        }
        out((z * o(1) + y) * o(2) + x) = if (float) (sum / n).toFloat.toDouble else math.floor(sum / n)
      }
      Dense(o, out)
    }.take(nLevels).toSeq

  /** `l0` cut into level-0 chunks of `vol`'s chunk shape. */
  def chunks(l0: Dense, vol: Volume): Seq[ZarrChunk] = {
    val c = vol.chunk.drop(2)
    val d = l0.dims
    for {
      gz <- 0 until (d(0) + c(0) - 1) / c(0)
      gy <- 0 until (d(1) + c(1) - 1) / c(1)
      gx <- 0 until (d(2) + c(2) - 1) / c(2)
    } yield {
      val lo = Array(gz * c(0), gy * c(1), gx * c(2))
      val n = Array.tabulate(3)(a => math.min(c(a), d(a) - lo(a)))
      val v = for (z <- 0 until n(0); y <- 0 until n(1); x <- 0 until n(2))
        yield l0.v(((lo(0) + z) * d(1) + lo(1) + y) * d(2) + lo(2) + x)
      val data = vol.dtype match {
        case PixelDtype.F32 => PixelCodec.f32ToBytes(v.map(_.toFloat).toArray)
        case dt => PixelCodec.fromInts(v.map(_.toInt).toArray, dt)
      }
      ZarrChunk(vol.stack, 0, 0, 0, gz, gy, gx, Array(1, 1) ++ n, data)
    }
  }

  /** One level's chunks placed into a dense array of `dims`; asserts the
    * chunks tile the level's grid (chunk shape of `vol`) exactly once,
    * each at its clamped shape. */
  def densify(cks: Seq[ZarrChunk], dims: Array[Int], vol: Volume): Dense = {
    val c = vol.chunk.drop(2)
    val grid = Array.tabulate(3)(a => (dims(a) + c(a) - 1) / c(a))
    val at = cks.map(ck => (ck.z, ck.y, ck.x))
    assert(at.sorted == (for (z <- 0 until grid(0); y <- 0 until grid(1); x <- 0 until grid(2))
      yield (z, y, x)), s"chunk grid differs from ${grid.mkString("x")}")
    val out = new Array[Double](dims.product)
    cks.foreach { ck =>
      val lo = Array(ck.z * c(0), ck.y * c(1), ck.x * c(2))
      val n = Array.tabulate(3)(a => math.min(c(a), dims(a) - lo(a)))
      assert(ck.t == 0 && ck.c == 0 && ck.shape.toSeq == Seq(1, 1) ++ n,
        s"chunk (${ck.z},${ck.y},${ck.x}) has shape ${ck.shape.mkString("x")}")
      val px: Array[Double] = vol.dtype match {
        case PixelDtype.F32 => PixelCodec.f32ToFloats(ck.data).map(_.toDouble)
        case dt => PixelCodec.toInts(ck.data, dt).map(_.toDouble)
      }
      for (z <- 0 until n(0); y <- 0 until n(1); x <- 0 until n(2))
        out(((lo(0) + z) * dims(1) + lo(1) + y) * dims(2) + lo(2) + x) = px((z * n(1) + y) * n(2) + x)
    }
    Dense(dims, out)
  }
}
