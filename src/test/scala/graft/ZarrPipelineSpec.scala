package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Volume, ZarrChunk}
import graft.io.zarr.{ZarrIO, ZarrStore}
import graft.operators.Pyramid
import graft.sources.SyntheticStack

/** End-to-end array pipeline: synthetic stack -> windowed-mean pyramid ->
  * Zarr v2 sink (Blosc/zstd) -> Zarr source -> pixel-exact compare
  * (SURVEY.md §7.3 minimum slice). */
class ZarrPipelineSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-test")

  test("synthetic generate -> pyramid levels have analytic means") {
    val vol = Volume("stackA", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))
    val l0 = SyntheticStack.generate(spark, vol)
    assert(l0.count() == 8)

    val (vols, all) = Pyramid.build(spark, l0, vol, nLevels = 3)
    assert(vols.length == 2)
    assert(vols.head.shape.toSeq == Seq(1L, 1L, 8L, 8L, 8L))
    val chunks1 = all.collect().filter(_.level == 1)
    assert(chunks1.map(_.numVoxels).sum == 512)

    // analytic: window mean of v=31z+17y+13x over 2^3 window at (zb,yb,xb)
    // = 62zb+34yb+26xb + (31+17+13)/2 = ... integer floor of sum/8
    def expected(zb: Int, yb: Int, xb: Int): Int = {
      var sum = 0L
      for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
        sum += SyntheticStack.value(2 * zb + dz, 2 * yb + dy, 2 * xb + dx)
      (sum / 8).toInt
    }
    chunks1.foreach { ck =>
      val px = ck.pixels
      for (z <- 0 until ck.shape(2); y <- 0 until ck.shape(3); x <- 0 until ck.shape(4)) {
        val (gz, gy, gx) = (ck.z * 8 + z, ck.y * 8 + y, ck.x * 8 + x)
        assert(px(z * ck.shape(3) * ck.shape(4) + y * ck.shape(4) + x) == expected(gz, gy, gx),
          s"level1 voxel ($gz,$gy,$gx)")
      }
    }
  }

  test("zarr write -> read roundtrip is pixel-exact, with valid metadata") {
    val dir = Files.createTempDirectory("zarr-rt").toString
    val vol = Volume("rt", 0, Array(1L, 1L, 20L, 20L, 20L), Array(1, 1, 8, 8, 8))
    val l0 = SyntheticStack.generate(spark, vol)
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(l0, dir)

    // metadata files exist and parse
    val meta = ZarrIO.readZarray(dir, "rt", 0)
    assert(meta.shape.toSeq == Seq(1L, 1L, 20L, 20L, 20L))
    assert(meta.chunk.toSeq == Seq(1, 1, 8, 8, 8))
    assert(meta.compressed)
    assert(meta.dtype == graft.core.PixelDtype.U16)

    val back = ZarrStore.read(spark, dir, "rt", 0)
    assert(back.length == 27, "3x3x3 grid incl. clamped edges")
    val orig = l0.collect().map(c => ((c.z, c.y, c.x), c)).toMap
    back.foreach { ck =>
      val o = orig((ck.z, ck.y, ck.x))
      assert(ck.shape.toSeq == o.shape.toSeq, s"chunk ${ck.z},${ck.y},${ck.x} shape")
      assert(ck.data.sameElements(o.data), s"chunk ${ck.z},${ck.y},${ck.x} pixels")
    }

    // edge chunk is clamped: 20 % 8 = 4
    val edge = back.find(c => c.z == 2 && c.y == 2 && c.x == 2).get
    assert(edge.shape.toSeq == Seq(1, 1, 4, 4, 4))
  }

  /** Truncates stack `st`'s chunk (0,0,0) to half its length, reads the
    * level back and returns every message in the failure's cause chain. */
  private def readTruncated(dir: String, st: String): String = {
    val chunkFile = java.nio.file.Paths.get(dir, st, "0", "0", "0", "0", "0", "0")
    val bytes = Files.readAllBytes(chunkFile)
    Files.write(chunkFile, bytes.take(bytes.length / 2))
    val e = intercept[org.apache.spark.SparkException](ZarrStore.read(spark, dir, st, 0))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).mkString("\n")
  }

  test("corrupt chunk file fails loudly, naming the chunk path") {
    val dir = Files.createTempDirectory("zarr-corrupt").toString
    val vol = Volume("cr", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)
    // the task failure must carry the chunk PATH, not just a codec error —
    // in a million-task read a bare "zstd decoded N bytes" is undebuggable
    val msg = readTruncated(dir, "cr")
    assert(msg.contains("corrupt zarr chunk at") && msg.contains("cr/0/0/0/0/0/0"), msg)
  }

  test("truncated chunk in an uncompressed store fails instead of reading short") {
    val dir = Files.createTempDirectory("zarr-raw-trunc").toString
    val vol = Volume("rw", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1, compressed = false)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)
    val msg = readTruncated(dir, "rw")
    assert(msg.contains("corrupt zarr chunk at") && msg.contains("rw/0/0/0/0/0/0") &&
      msg.contains("512 bytes, expected 1024"), msg)
  }

  test("float32 volume: pyramid + zarr roundtrip with <f4 dtype") {
    import spark.implicits._
    import graft.core.{PixelCodec, PixelDtype}
    val dir = Files.createTempDirectory("zarr-f32").toString
    val vol = Volume("f32", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 4, 4, 4), PixelDtype.F32)
    // 8 chunks of 4^3 floats, v = global linear index * 0.5
    val l0 = spark.range(8).map { flat =>
      val coords = graft.core.ChunkGrid.chunkCoords(flat, vol.grid)
      val px = new Array[Float](64)
      for (z <- 0 until 4; y <- 0 until 4; x <- 0 until 4)
        px(z * 16 + y * 4 + x) =
          ((coords(2) * 4 + z) * 64 + (coords(3) * 4 + y) * 8 + (coords(4) * 4 + x)) * 0.5f
      ZarrChunk("f32", 0, 0, 0, coords(2).toInt, coords(3).toInt, coords(4).toInt,
        Array(1, 1, 4, 4, 4), PixelCodec.f32ToBytes(px))
    }
    ZarrIO.writeMetadata(dir, vol, nLevels = 2)
    ZarrStore.write(l0, dir)
    ZarrStore.write(Pyramid.build(spark, l0, vol, nLevels = 2)._2, dir)

    assert(ZarrIO.readZarray(dir, "f32", 0).dtype == PixelDtype.F32)
    val l1 = ZarrStore.read(spark, dir, "f32", 1)
    assert(l1.map(c => c.data.length / 4).sum == 64)
    // voxel (0,0,0) at level 1 = mean of the 2x2x2 corner
    val c0 = l1.find(c => c.z == 0 && c.y == 0 && c.x == 0).get
    val px = PixelCodec.f32ToFloats(c0.data)
    var sum = 0.0
    for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 2) sum += (z * 64 + y * 8 + x) * 0.5
    assert(px(0) == (sum / 8).toFloat)
  }

  test("full pipeline: generate -> pyramid -> write all levels -> read level 1") {
    val dir = Files.createTempDirectory("zarr-pipe").toString
    val vol = Volume("pipe", 0, Array(1L, 1L, 32L, 32L, 32L), Array(1, 1, 16, 16, 16))
    val l0 = SyntheticStack.generate(spark, vol)
    ZarrIO.writeMetadata(dir, vol, nLevels = 2, voxelZyx = Seq(1.0, 0.5, 0.5))
    ZarrStore.write(l0, dir)
    ZarrStore.write(Pyramid.build(spark, l0, vol, nLevels = 2)._2, dir)

    val l1 = ZarrStore.read(spark, dir, "pipe", 1)
    assert(l1.map(_.numVoxels).sum == 16 * 16 * 16)

    // .zattrs carries OME-NGFF multiscales with scale doubling per level
    val attrs = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "pipe", ".zattrs")), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(attrs)
    val ms = node.get("multiscales").get(0)
    assert(ms.get("axes").size() == 5)
    val ds0 = ms.get("datasets").get(0)
    val ds1 = ms.get("datasets").get(1)
    assert(ds0.get("path").asText() == "0")
    val s0 = ds0.get("coordinateTransformations").get(0).get("scale")
    val s1 = ds1.get("coordinateTransformations").get(0).get("scale")
    assert(s0.get(2).asDouble() == 1.0 && s0.get(4).asDouble() == 0.5)
    assert(s1.get(2).asDouble() == 2.0 && s1.get(4).asDouble() == 1.0)
    assert(node.get("omero").get("channels").get(0).get("window").get("end").asDouble() == 550.0)
  }
}
