package graft.tools

import java.nio.file.{Files, Paths}

import graft.Spark
import graft.jobs.ZeissJob
import graft.sources.SyntheticStack
import graft.sources.czi.{CziFormat, SyntheticCzi}

/** Scale rehearsal: drive a >= 2048-cube Gray16 stack (~17 GB of voxels)
  * through the full CZI -> pyramid -> OME-Zarr pipeline and report voxels/s
  * plus the peak of each JVM heap pool — the local stand-in for a
  * production-size stack that a 512-cube spec can't represent.
  *
  * At the default 128-deep chunk a 2048-wide u16 plane makes a z-slab of
  * exactly 2^30 bytes, `CziSource.MaxTaskBytes`, so n = 2048 runs one
  * scan task per slab, holding the slab's 256 chunk tiles; n >= 2049
  * splits each slab into tile runs of at most 256 chunks (2 runs at
  * n = 2049), the split a stitched production volume takes. Each
  * fixture subblock is a whole plane, so it is decoded once per run of
  * its slab.
  *
  * The fixture streams to disk one z-slice per subblock (zstd-compressed,
  * fed by an Iterator so never more than one slice is resident) and is
  * reused across runs when already present.
  *
  * Usage: Test/runMain graft.tools.ScaleRehearsal [root] [n]
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-scale")
    val n = if (args.length > 1) args(1).toInt else 2048
    Files.createDirectories(Paths.get(root))
    val czi = s"$root/scale$n.czi"

    if (!Files.exists(Paths.get(czi))) {
      println(s"[rehearsal] writing $n^3 Gray16 fixture to $czi ...")
      val t0 = System.nanoTime()
      val tiles = Iterator.tabulate(n) { z =>
        SyntheticCzi.Tile(
          dims = Seq(("X", 0, n), ("Y", 0, n), ("Z", z, 1), ("C", 0, 1)),
          pixels = {
            val px = new Array[Int](n * n)
            var y = 0
            while (y < n) {
              var x = 0
              while (x < n) { px(y * n + x) = SyntheticStack.value(z, y, x); x += 1 }
              y += 1
            }
            px
          },
          compression = CziFormat.CompressionZstd0)
      }
      SyntheticCzi.writeTiles(czi, tiles)
      println(f"[rehearsal] fixture written in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(${Files.size(Paths.get(czi)) / 1e9}%.2f GB on disk)")
    } else println(s"[rehearsal] reusing existing $czi")

    val spark = Spark.session(appName = "graft-scale-rehearsal")
    val out = s"$root/out$n.ome.zarr"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    val settings = ZeissJob.Settings(inputSource = root, outputDirectory = out)

    val heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    }
    heapPools.foreach(_.resetPeakUsage())
    val t1 = System.nanoTime()
    val vol = ZeissJob.convertStack(spark, czi, out, settings, Seq(1.0, 1.0, 1.0))
    val sec = (System.nanoTime() - t1) / 1e9
    val voxels = vol.shape.product
    // pools peak at different instants, so each is reported on its own,
    // never summed
    val peaks = heapPools.map(p => f""""${p.getName}":${p.getPeakUsage.getUsed / 1e9}%.2f""")
    println(f"""[rehearsal] {"n":$n,"voxels":$voxels,"seconds":$sec%.1f,""" +
      f""""voxels_per_sec":${(voxels / sec).toLong},""" +
      s""""peak_heap_gb_by_pool":${peaks.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
