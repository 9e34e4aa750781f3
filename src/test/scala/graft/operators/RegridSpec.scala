package graft.operators

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{ChunkGrid, PixelDtype, Volume}

/** [[Regrid.cut]] + [[Regrid.assemble]] against a per-voxel reference:
  * random disjoint boxes (a random split of the array, with some boxes
  * dropped) written into a dense array must read back chunk for chunk,
  * for any chunk shape, odd array edges and item sizes 1, 2 and 4 —
  * with the pieces spread over several partitions in shuffled order. */
class RegridSpec extends AnyFunSuite {
  import RegridSpec.Case

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-regrid-test")

  /** [0, len) split at up to three random points into (origin, extent)
    * runs. */
  private def split(len: Int): Gen[Seq[(Int, Int)]] =
    for (k <- Gen.choose(0, 3); cuts <- Gen.listOfN(k, Gen.choose(0, len - 1))) yield
      (cuts.toSet + 0 + len).toSeq.sorted.sliding(2).map { case Seq(lo, hi) => (lo, hi - lo) }.toSeq

  private val cases: Gen[Case] = for {
    itemSize <- Gen.oneOf(1, 2, 4)
    shape <- Gen.listOfN(3, Gen.choose(1, 19))
    chunk <- Gen.listOfN(3, Gen.choose(1, 8))
    zs <- split(shape(0))
    ys <- split(shape(1))
    xs <- split(shape(2))
    all = for (z <- zs; y <- ys; x <- xs) yield (Seq(z._1, y._1, x._1), Seq(z._2, y._2, x._2))
    n <- Gen.choose(1, all.size)
    boxes <- Gen.pick(n, all)
    seed <- Gen.long
  } yield Case(itemSize, shape, chunk, boxes.toSeq, seed)

  private def check(k: Case): Boolean = {
    import spark.implicits._
    val isz = k.itemSize
    val Seq(sz, sy, sx) = k.shape
    val rnd = new scala.util.Random(k.seed)
    val datas = k.boxes.map { case (_, n) => Array.fill(n.product * isz)(rnd.nextInt(256).toByte) }

    // reference: boxes written voxel by voxel
    val dense = new Array[Byte](sz * sy * sx * isz)
    k.boxes.zip(datas).foreach { case ((at, n), d) =>
      for (z <- 0 until n(0); y <- 0 until n(1); x <- 0 until n(2); b <- 0 until isz)
        dense((((at(0) + z) * sy + at(1) + y) * sx + at(2) + x) * isz + b) =
          d(((z * n(1) + y) * n(2) + x) * isz + b)
    }

    val dtype = Map(1 -> PixelDtype.U8, 2 -> PixelDtype.U16, 4 -> PixelDtype.F32)(isz)
    val vol = Volume("rg", 3, Array(1L, 1L, sz.toLong, sy.toLong, sx.toLong),
      Array(1, 1) ++ k.chunk, dtype)
    val pieces = rnd.shuffle(k.boxes.zip(datas).flatMap { case ((at, n), d) =>
      Regrid.cut(0, 0, 0, d, at.map(_.toLong).toArray, n.toArray, k.chunk.toArray, isz)
    })
    val got = Regrid.assemble(spark.createDataset(spark.sparkContext.parallelize(pieces, 3)), Seq(vol))
      .collect()

    val touched = pieces.map(p => (p.z, p.y, p.x)).toSet
    got.length == touched.size && got.forall { ck =>
      val cs = ChunkGrid.clampedChunkShape(Array(0L, 0L, ck.z.toLong, ck.y.toLong, ck.x.toLong),
        vol.shape, vol.chunk)
      val (z0, y0, x0) = (ck.z * k.chunk(0), ck.y * k.chunk(1), ck.x * k.chunk(2))
      val want = for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4); b <- 0 until isz)
        yield dense((((z0 + z) * sy + y0 + y) * sx + x0 + x) * isz + b)
      touched((ck.z, ck.y, ck.x)) && ck.stack == "rg" && ck.level == 3 &&
        ck.shape.toSeq == cs.toSeq && ck.data.toSeq == want
    }
  }

  test("cut + assemble of disjoint boxes equals the per-voxel reference") {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(cases)(check))
    assert(res.passed, Pretty.pretty(res))
  }

  test("a box inside one chunk is passed through uncopied") {
    val data = Array.tabulate[Byte](2 * 3 * 4 * 2)(_.toByte)
    val ps = Regrid.cut(1, 0, 2, data, Array(8L, 9L, 12L), Array(2, 3, 4), Array(4, 4, 8), 2).toSeq
    assert(ps.size == 1)
    val p = ps.head
    assert(p.data eq data)
    assert(Seq(p.out, p.t, p.c, p.z, p.y, p.x) == Seq(1, 0, 2, 2, 2, 1))
    assert(Seq(p.oz, p.oy, p.ox, p.nz, p.ny, p.nx) == Seq(0, 1, 4, 2, 3, 4))
  }
}

object RegridSpec {
  /** An array `shape` in `chunk`s and (origin, extent) boxes over it. */
  final case class Case(itemSize: Int, shape: Seq[Int], chunk: Seq[Int],
                        boxes: Seq[(Seq[Int], Seq[Int])], seed: Long)
}
