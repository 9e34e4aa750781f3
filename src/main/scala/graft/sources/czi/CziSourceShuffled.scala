package graft.sources.czi

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{Volume, ZarrChunk}
import graft.operators.Regrid
import CziFormat.CziIndex

/** Shuffle-assembled CZI scan — the scale path for stacks whose XY plane
  * is too large for [[CziSource.scan]]'s per-task slab buffer.
  *
  * [[CziSource.scan]] mirrors the reference's bounded-memory z-slab
  * streaming (`czi_to_zarr.py:596-608`): one task materializes
  * chunkDepth x Y x X voxels. At light-sheet sizes (2k x 2k plane) that
  * is ~1 GiB/task — fine; at stitched-volume sizes (100k x 100k) it is
  * not. This variant never materializes a slab: one task per subblock
  * cuts the decoded subblock into per-chunk pieces
  * ([[graft.operators.Regrid.cut]], `seq` = directory index), and
  * [[graft.operators.Regrid.assemble]]'s one exchange copies each
  * chunk's pieces in directory order, so overlapping mosaic tiles
  * resolve last-in-directory-order wins, like the slab scan. Memory is
  * bounded by one chunk per group; the shuffle moves each voxel exactly
  * once.
  *
  * Trade-off: one full-data shuffle that the slab variant avoids.
  * [[graft.jobs.ZeissJob.convertStack]] picks per stack geometry: this
  * scan when one z-slab (chunkDepth x Y x X voxels) would exceed 1 GiB.
  */
object CziSourceShuffled {

  def scan(spark: SparkSession, path: String, vol: Volume, idx: CziIndex): Dataset[ZarrChunk] = {
    import spark.implicits._
    val chunk = vol.chunk.drop(2)
    val origin = idx.origin
    val entries = idx.entries.toArray
    val isz = vol.dtype.itemSize

    // one task per subblock: cut it into per-chunk pieces, ordered by
    // directory index so overlapping mosaic tiles resolve last-wins
    val hconf = graft.core.HadoopConf.snapshot(spark.sparkContext.hadoopConfiguration)
    val pieces = spark.range(entries.length).mapPartitions { it =>
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
        val at = Array("Z", "Y", "X").zip(origin.drop(2)).map { case (d, o) => (e.start(d) - o).toLong }
        Regrid.cut(0, e.start("T") - origin(0), e.start("C") - origin(1), ei,
          CziReader.subblockData(in, e), at, Array(e.size("Z"), e.size("Y"), e.size("X")), chunk, isz)
      }
    }
    Regrid.assemble(pieces, Seq(vol))
  }
}
