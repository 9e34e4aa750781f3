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

/** [[Pyramid.build]], the fused all-levels pyramid, must be
  * BYTE-identical to the sequential assemble-then-downsample chain
  * ([[Pyramid.levels]]) — including ceil-edge chunks, where a level's
  * edge pieces go odd-sized. The alignment precondition
  * (chunk % f^(nLevels-1) == 0) is exactly what makes the chunk-local
  * recursion legal; the unaligned fallback must route through the
  * sequential path unchanged. The job that uses it must leave nothing
  * cached on either path. */
class PyramidFusedSpec extends AnyFunSuite {
  import PyramidFusedSpec._

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-fused-pyr-test")

  private def assertEqualLevels(vol: Volume, nLevels: Int): Unit = {
    val seq = Pyramid.levels(spark, SyntheticStack.generate(spark, vol), vol, nLevels)
    val want = keyed(seq.flatMap(_._2.collect()).toArray)
    val (vols, all) = Pyramid.build(
      spark, SyntheticStack.generate(spark, vol), vol, nLevels)
    assert(vols.map(_.shape.toSeq) == seq.map(_._1.shape.toSeq))
    val got = keyed(all.collect())
    assert(got.keySet == want.keySet, "chunk grid differs")
    got.foreach { case (k, v) =>
      assert(v == want(k), s"chunk $k differs between fused and sequential")
    }
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
    // 12 % 2^3 != 0: the fused recursion would be wrong here, so the
    // dispatcher must route through Pyramid.levels — equality is the proof
    val vol = Volume("fu", 0, Array(1L, 1L, 24L, 24L, 24L), Array(1, 1, 12, 12, 12))
    assertEqualLevels(vol, 4)
    // the fallback caches nothing; instead each level's exchange runs once
    // and the levels above reuse it within the one unioned plan
    val (_, all) = Pyramid.build(spark, SyntheticStack.generate(spark, vol), vol, 4)
    all.collect()
    val plan = all.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(plan).size == 2, plan)
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

  def keyed(cks: Array[ZarrChunk]): Map[(Int, Int, Int, Int, Int, Int), (Seq[Int], Seq[Byte])] =
    cks.map(ck => (ck.level, ck.t, ck.c, ck.z, ck.y, ck.x) ->
      (ck.shape.toSeq, ck.data.toSeq)).toMap

  /** Every level of `stack` read back from `out` equals `Pyramid.levels`
    * over the generator, chunk for chunk; `ZarrStore.read` also requires
    * each chunk's file to exist. */
  def assertWrittenLevels(spark: SparkSession, out: String, stack: String, vol: Volume,
                          nLevels: Int): Unit = {
    val l0 = SyntheticStack.generate(spark, vol)
    val want = keyed(l0.collect() ++ Pyramid.levels(spark, l0, vol, nLevels).flatMap(_._2.collect()))
    val got = keyed((0 until nLevels).flatMap(l => ZarrStore.read(spark, out, stack, l)).toArray)
    assert(got.keySet == want.keySet, "chunk grid differs")
    got.foreach { case (k, v) => assert(v == want(k), s"chunk $k differs from Pyramid.levels") }
  }
}
