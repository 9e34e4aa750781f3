package graft.operators

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{ChunkGrid, PixelCodec, PixelDtype, Volume, ZarrChunk}
import graft.sources.SyntheticStack

/** [[Rechunk]] must re-cut a store voxel-exactly: every output chunk of
  * the new grid, clamped at the array edges, holds exactly the bytes of
  * `SyntheticStack.value` at its voxels, for every item size. */
class RechunkSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-rechunk-test")

  /** The bytes of the chunk at grid `coords` of `vol`, from the value
    * formula: u8 keeps the low byte, u16 the value, f32 the value + 0.5. */
  private def chunkBytes(vol: Volume, coords: Array[Long]): Array[Byte] = {
    val cs = ChunkGrid.clampedChunkShape(coords, vol.shape, vol.chunk)
    val (z0, y0, x0) = (coords(2) * vol.chunk(2), coords(3) * vol.chunk(3), coords(4) * vol.chunk(4))
    val v = (for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4))
      yield SyntheticStack.value(z0 + z, y0 + y, x0 + x)).toArray
    vol.dtype match {
      case PixelDtype.F32 => PixelCodec.f32ToBytes(v.map(_ + 0.5f))
      case d => PixelCodec.fromInts(v, d)
    }
  }

  private def chunks(vol: Volume): Dataset[ZarrChunk] = {
    import spark.implicits._
    val grid = vol.grid
    spark.createDataset((0L until vol.numChunks).map { i =>
      val k = ChunkGrid.chunkCoords(i, grid)
      ZarrChunk(vol.stack, vol.level, k(0).toInt, k(1).toInt, k(2).toInt, k(3).toInt, k(4).toInt,
        ChunkGrid.clampedChunkShape(k, vol.shape, vol.chunk), chunkBytes(vol, k))
    }).repartition(3)
  }

  /** Re-chunks `vol` to `newZyx` and checks every output chunk against
    * the formula; returns the output chunks by grid coordinates. */
  private def assertRechunk(vol: Volume, newZyx: Array[Int]): Map[Seq[Int], ZarrChunk] = {
    val nv = Rechunk.newVolume(vol, newZyx)
    val got = Rechunk(chunks(vol), vol, newZyx).collect()
      .map(ck => Seq(ck.t, ck.c, ck.z, ck.y, ck.x) -> ck).toMap
    assert(got.size == nv.numChunks, s"${got.size} chunks, grid has ${nv.numChunks}")
    (0L until nv.numChunks).foreach { i =>
      val k = ChunkGrid.chunkCoords(i, nv.grid)
      val ck = got(k.toSeq.map(_.toInt))
      assert(ck.stack == vol.stack && ck.level == vol.level)
      assert(ck.shape.toSeq == ChunkGrid.clampedChunkShape(k, nv.shape, nv.chunk).toSeq)
      assert(ck.data.sameElements(chunkBytes(nv, k)), s"chunk ${k.mkString(",")}")
    }
    got
  }

  test("every axis misaligned: (8,16,16) -> (12,20,8) is voxel-exact") {
    assertRechunk(Volume("rm", 0, Array(1L, 1L, 24L, 40L, 40L), Array(1, 1, 8, 16, 16)),
      Array(12, 20, 8))
  }

  test("clamped edge chunks on both grids keep their clamped shapes") {
    // 26x42x38 in (8,16,16): source edges 2x10x6; target (12,20,8) edges 2x2x6
    val got = assertRechunk(Volume("re", 0, Array(1L, 1L, 26L, 42L, 38L), Array(1, 1, 8, 16, 16)),
      Array(12, 20, 8))
    assert(got(Seq(0, 0, 2, 2, 4)).shape.toSeq == Seq(1, 1, 2, 2, 6))
    assert(got(Seq(0, 0, 0, 0, 0)).shape.toSeq == Seq(1, 1, 12, 20, 8))
  }

  test("identity re-chunk returns the input chunks byte for byte") {
    val vol = Volume("ri", 0, Array(1L, 1L, 20L, 20L, 20L), Array(1, 1, 8, 8, 8))
    val in = chunks(vol).collect().map(ck => Seq(ck.z, ck.y, ck.x) -> ck.data.toSeq).toMap
    val got = assertRechunk(vol, Array(8, 8, 8))
    got.values.foreach(ck => assert(ck.data.toSeq == in(Seq(ck.z, ck.y, ck.x))))
  }

  for (dtype <- Seq(PixelDtype.U8, PixelDtype.F32))
    test(s"item size ${dtype.itemSize} (${dtype.zarrName}): misaligned re-chunk is voxel-exact") {
      assertRechunk(Volume("rd", 0, Array(1L, 1L, 18L, 22L, 26L), Array(1, 1, 8, 16, 16), dtype),
        Array(5, 7, 12))
    }
}
