package graft.sources.czi

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{ChunkGrid, Volume, ZarrChunk}
import CziFormat.CziIndex

/** Shuffle-assembled CZI scan — the scale path for stacks whose XY plane
  * is too large for [[CziSource.scan]]'s per-task slab buffer.
  *
  * [[CziSource.scan]] mirrors the reference's bounded-memory z-slab
  * streaming (`czi_to_zarr.py:596-608`): one task materializes
  * chunkDepth x Y x X voxels. At light-sheet sizes (2k x 2k plane) that
  * is ~1 GiB/task — fine; at stitched-volume sizes (100k x 100k) it is
  * not. This variant never materializes a slab: one task per subblock
  * cuts the subblock into per-chunk pieces, and a single hash aggregate
  * keyed by chunk coordinates assembles the (up to chunkDepth) z-slices
  * of each chunk. Memory is bounded by one chunk per group; the shuffle
  * moves each voxel exactly once.
  *
  * Trade-off: one full-data shuffle that the slab variant avoids.
  * [[graft.jobs.ZeissJob.convertStack]] picks per stack geometry: this
  * scan when one z-slab (chunkDepth x Y x X voxels) would exceed 1 GiB.
  */
object CziSourceShuffled {

  def scan(spark: SparkSession, path: String, vol: Volume, idx: CziIndex): Dataset[ZarrChunk] = {
    import spark.implicits._
    val chunk = vol.chunk
    val shape = vol.shape
    val stack = vol.stack
    val origin = idx.origin
    val entries = idx.entries.toArray
    val nEntries = entries.length
    val isz = vol.dtype.itemSize

    // one task per subblock: cut it into per-chunk pieces
    val hconf = graft.core.HadoopConf.snapshot(spark.sparkContext.hadoopConfiguration)
    val pieces = spark.range(nEntries).mapPartitions { it =>
      val conf = graft.core.HadoopConf.restore(hconf)
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))

      it.flatMap { ei =>
        val e = entries(ei.toInt)
        require(e.size("C") == 1, "subblocks spanning multiple channels unsupported")
        require(e.size("T") == 1, "subblocks spanning multiple timepoints unsupported")
        val data = CziReader.subblockData(in, e)
        val tt = e.start("T") - origin(0)
        val cc = e.start("C") - origin(1)
        val (ez0, ey0, ex0) = (e.start("Z") - origin(2), e.start("Y") - origin(3), e.start("X") - origin(4))
        val (ezN, eyN, exN) = (e.size("Z"), e.size("Y"), e.size("X"))
        for {
          z <- 0 until ezN
          cy <- (ey0 / chunk(3)) to ((ey0 + eyN - 1) / chunk(3))
          cx <- (ex0 / chunk(4)) to ((ex0 + exN - 1) / chunk(4))
        } yield {
          val gz = ez0 + z
          val yLo = math.max(ey0, cy * chunk(3)).toInt
          val yHi = math.min(ey0 + eyN, (cy + 1) * chunk(3)).toInt
          val xLo = math.max(ex0, cx * chunk(4)).toInt
          val xHi = math.min(ex0 + exN, (cx + 1) * chunk(4)).toInt
          val w = xHi - xLo
          val h = yHi - yLo
          val piece = new Array[Byte](h * w * isz)
          var y = yLo
          while (y < yHi) {
            System.arraycopy(data, (z * eyN * exN + (y - ey0) * exN + (xLo - ex0)) * isz,
              piece, ((y - yLo) * w) * isz, w * isz)
            y += 1
          }
          // key: target chunk (frame included); payload: (z, yLo, xLo, h, w, bytes)
          (tt, cc, gz / chunk(2), cy, cx, gz, yLo, xLo, h, w, piece)
        }
      }
    }

    // assemble each chunk from its plane pieces — the one shuffle
    pieces.groupByKey { case (tt, cc, cz, cy, cx, _, _, _, _, _, _) => (tt, cc, cz, cy, cx) }
      .mapGroups { (key: (Int, Int, Int, Int, Int), it: Iterator[(Int, Int, Int, Int, Int, Int, Int, Int, Int, Int, Array[Byte])]) =>
        val (tt, cc, cz, cy, cx) = key
        val coords = Array(tt.toLong, cc.toLong, cz.toLong, cy.toLong, cx.toLong)
        val cs = ChunkGrid.clampedChunkShape(coords, shape, chunk)
        val buf = new Array[Byte](cs.product * isz)
        it.foreach { case (_, _, _, _, _, gz, yLo, xLo, h, w, piece) =>
          val lz = gz - cz * chunk(2)
          var y = 0
          while (y < h) {
            System.arraycopy(piece, y * w * isz,
              buf, (lz * cs(3) * cs(4) + (yLo - cy * chunk(3) + y) * cs(4) + (xLo - cx * chunk(4))) * isz,
              w * isz)
            y += 1
          }
        }
        ZarrChunk(stack, 0, tt, cc, cz, cy, cx, cs, buf)
      }
  }
}
