package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{Volume, ZarrChunk}
import graft.io.zarr.ZarrStore
import graft.jobs.ZeissJob
import graft.sources.SyntheticStack
import graft.sources.czi.SyntheticCzi

/** Every level of [[Pyramid.build]] must equal the dense oracle
  * ([[PyramidUnalignedSpec.brute]], which shares no code with the
  * pyramid) — including ceil-edge chunks, where a level's edge pieces go
  * odd-sized, and chunks that are not a multiple of f^(nLevels-1), which
  * build in rounds of the fused body. The job that uses it must leave
  * nothing cached on either shape. */
class PyramidFusedSpec extends AnyFunSuite {
  import PyramidFusedSpec._

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-fused-pyr-test")

  private def assertEqualLevels(vol: Volume, nLevels: Int): Unit = {
    val (vols, all) = Pyramid.build(
      spark, SyntheticStack.generate(spark, vol), vol, nLevels)
    val want = assertOracleLevels(all.collect().toSeq, vol, nLevels, 1 until nLevels)
    assert(vols.map(_.level) == (1 until nLevels))
    assert(vols.map(_.shape.drop(2).toSeq) == want.tail.map(_.dims.map(_.toLong).toSeq))
  }

  test("aligned 64^3 / 32^3 (z1's config): fused == sequential, byte-exact") {
    assertEqualLevels(Volume("fz", 0, Array(1L, 1L, 64L, 64L, 64L), Array(1, 1, 32, 32, 32)), 4)
  }

  test("ceil-edge chunks (52^3 over 32^3): odd edge pieces stay exact") {
    // edge chunks are 20 wide; their level-k pieces go 10 -> 5 -> 3:
    // odd sizes that only ever terminate an axis, never precede a piece
    assertEqualLevels(Volume("fe", 0, Array(1L, 1L, 52L, 52L, 52L), Array(1, 1, 32, 32, 32)), 4)
  }

  test("non-cubic chunks: fused == sequential AND voxelize places every level-1 voxel correctly") {
    // 32x64x16 volume in 16x32x8 chunks (distinct extent per axis): a
    // cubic-chunk assumption anywhere in the coordinate math would
    // mis-place voxels along at least two axes (ADVICE r15, z1)
    val vol = Volume("fnc", 0, Array(1L, 1L, 32L, 64L, 16L), Array(1, 1, 16, 32, 8))
    assertEqualLevels(vol, 3)
    val (_, all) = Pyramid.build(
      spark, SyntheticStack.generate(spark, vol), vol, 3)
    // level 1 = floor-mean over each 2x2x2 window of the synthetic
    // voxel function (the z1 oracle's semantics); checking the GLOBAL
    // coordinates end-to-end catches any cross-axis extent mixup
    val vox = graft.queries.ArrayOps.voxelize(spark, all, vol)
      .filter(org.apache.spark.sql.functions.col("level") === 1).collect()
    assert(vox.length == 16 * 32 * 8, s"level-1 voxel count ${vox.length}")
    vox.foreach { r =>
      val (z, y, x) = (r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3).toInt)
      val want = (for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        yield SyntheticStack.value(2 * z + dz, 2 * y + dy, 2 * x + dx).toLong).sum / 8
      assert(r.getLong(4) == want,
        s"voxel ($z,$y,$x) mis-placed under non-cubic chunks: got ${r.getLong(4)}, want $want")
    }
  }

  test("unaligned chunk (12^3, nLevels 4) falls back to the sequential path") {
    // 12 % 2^3 != 0: the fused body may halve 12^3 chunks only twice, so
    // the build runs in two rounds (levels 1-2, then level 3 from level 2)
    val vol = Volume("fu", 0, Array(1L, 1L, 24L, 24L, 24L), Array(1, 1, 12, 12, 12))
    assertEqualLevels(vol, 4)
    // nothing is cached; the second round reads the first round's
    // exchange, which runs once and is reused within the one unioned plan
    val (_, all) = Pyramid.build(spark, SyntheticStack.generate(spark, vol), vol, 4)
    all.collect()
    val plan = all.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(plan).size == 1, plan)
  }

  /** Converts a synthetic CZI stack of `zyx` voxels through
    * `ZeissJob.convertStack`, asserts that no RDD the conversion persisted
    * is still cached afterwards, and returns the output root and volume. */
  private def convertUncached(stack: String, zyx: (Int, Int, Int), chunk: Array[Int],
                              nLevels: Int): (String, Volume) = {
    val root = Files.createTempDirectory("pyr-job").toString
    SyntheticCzi.write(s"$root/$stack.czi",
      Array.tabulate(zyx._1, zyx._2, zyx._3)((z, y, x) => SyntheticStack.value(z, y, x)))
    val settings = ZeissJob.Settings(inputSource = root, outputDirectory = s"$root/out",
      chunkSize = chunk, downsampleLevels = nLevels)
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    val before = cached
    val vol = ZeissJob.convertStack(spark, s"$root/$stack.czi", s"$root/out", settings,
      Seq(1.0, 1.0, 1.0))
    assert((cached -- before).isEmpty, s"still cached after the conversion: ${cached -- before}")
    (s"$root/out", vol)
  }

  test("convertStack on an aligned config leaves nothing cached, levels exact") {
    val (out, vol) = convertUncached("ca", (32, 32, 32), Array(16, 16, 16), 3)
    assertWrittenLevels(spark, out, "ca", vol, 3)
  }

  test("convertStack on an unaligned config (12^3 chunks, 4 levels): nothing cached, levels exact") {
    val (out, vol) = convertUncached("cu", (20, 24, 28), Array(12, 12, 12), 4)
    assertWrittenLevels(spark, out, "cu", vol, 4)
  }
}

object PyramidFusedSpec extends Assertions {
  import PyramidUnalignedSpec.{brute, densify, synthetic}

  /** Each of `levels` in `cks` equals the dense oracle over the synthetic
    * stack of `vol` (factor 2); returns the oracle's levels 0..nLevels-1. */
  def assertOracleLevels(cks: Seq[ZarrChunk], vol: Volume, nLevels: Int,
                         levels: Range): Seq[PyramidUnalignedSpec.Dense] = {
    val want = brute(synthetic(vol.shape.drop(2).map(_.toInt)), Array(2, 2, 2), nLevels, float = false)
    levels.foreach { k =>
      val got = densify(cks.filter(_.level == k), want(k).dims, vol)
      assert(got.v.sameElements(want(k).v), s"level $k differs from the dense oracle")
    }
    want
  }

  /** Every level of `stack` read back from `out` equals the dense oracle
    * over the generator; `ZarrStore.read` also requires each chunk's file
    * to exist. */
  def assertWrittenLevels(spark: SparkSession, out: String, stack: String, vol: Volume,
                          nLevels: Int): Unit = {
    assertOracleLevels((0 until nLevels).flatMap(l => ZarrStore.read(spark, out, stack, l)),
      vol, nLevels, 0 until nLevels)
  }
}
