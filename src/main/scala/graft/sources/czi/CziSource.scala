package graft.sources.czi

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{ChunkGrid, Volume, ZarrChunk}
import graft.operators.Regrid
import CziFormat._

/** Distributed CZI -> Dataset[ZarrChunk] scan (reference operators S2+S3:
  * `czi_block_generator` `utils.py:462-526` + `read_slices_czi`
  * `utils.py:284-395`, re-expressed as Spark tasks).
  *
  * The driver parses only the subblock directory (KBs); pixel data is
  * read inside tasks. One task = one run of chunk tiles of one z-slab of
  * chunk depth (the reference's `axis_jumps`): it copies each subblock
  * that overlaps its tiles straight into them with
  * [[graft.operators.Regrid.copyBox]], so level-0 chunking needs '''no
  * shuffle at all''': every chunk is produced exactly once by the task
  * owning its tile. A slab of at most [[MaxTaskBytes]] is one run (the
  * reference's bounded-memory slab streaming X3,
  * `czi_to_zarr.py:596-608`); a stitched plane too large for that splits
  * into runs of whole chunks, so no task holds a whole slab of it.
  */
object CziSource {

  /** The most pixel bytes one scan task holds at once: the chunk tiles of
    * its run. */
  val MaxTaskBytes: Long = 1L << 30

  /** One z-slab's `tiles` chunk tiles, numbered in row-major (y, x)
    * order, split into runs of at most `perRun` consecutive tiles. Every
    * slab of a stack splits the same way. */
  final case class TileRuns(tiles: Int, perRun: Int) {
    val count: Int = ChunkGrid.ceilDiv(tiles, perRun).toInt

    /** The tile indices of run `run`. */
    def apply(run: Int): Range =
      run * perRun until math.min(tiles.toLong, (run + 1L) * perRun).toInt
  }

  /** The runs of every z-slab of `vol`: the whole slab when a slab of
    * full chunk depth fits `maxTaskBytes`, else as many full chunks as
    * fit, at least one. */
  private[czi] def tileRuns(vol: Volume, maxTaskBytes: Long): TileRuns = {
    val tiles = Math.toIntExact(vol.grid(3) * vol.grid(4))
    val isz = vol.dtype.itemSize
    val slabBytes = vol.chunk(2).toLong * vol.shape(3) * vol.shape(4) * isz
    val chunkBytes = vol.chunk.drop(2).map(_.toLong).product * isz
    TileRuns(tiles,
      if (slabBytes <= maxTaskBytes) tiles
      else math.min(tiles.toLong, math.max(1L, maxTaskBytes / chunkBytes)).toInt)
  }

  /** JPEG-XR containment, the planning-time gate for the one CZI codec
    * that [[CziReader.decode]] rejects: if `path` contains JPEG-XR
    * (compression 4) subblocks, resolve to a losslessly transcoded
    * sidecar `<base>.transcoded.czi` produced by an external tool (e.g.
    * ZEISS's open-source `czicompress`, whose decompress mode rewrites
    * subblocks as zstd without touching pixel values). The sidecar is
    * validated to carry the same TCZYX shape and pixel type and no
    * remaining JPEG-XR subblocks. Without a sidecar this fails at
    * PLANNING time with the remediation, instead of deep inside an
    * executor task. Returns the path to read with its parsed directory,
    * so planning parses each file once. */
  def resolveInput(path: String, conf: Configuration = graft.core.HadoopConf.get): (String, CziIndex) = {
    val idx = CziReader.index(path, conf)
    if (!idx.entries.exists(_.compression == CziFormat.CompressionJpgXr)) (path, idx)
    else {
      val sidecar = path.stripSuffix(".czi") + ".transcoded.czi"
      val p = new Path(sidecar)
      if (!p.getFileSystem(conf).exists(p))
        throw new UnsupportedOperationException(
          s"$path contains JPEG-XR (compression 4) subblocks; T.832 entropy " +
          "decode is not implemented in this offline build. Remediation: " +
          "losslessly transcode the file with an external tool (e.g. " +
          "'czicompress --command decompress') and place the result at " +
          s"$sidecar — all scans pick the sidecar up automatically")
      val sidx = CziReader.index(sidecar, conf)
      require(!sidx.entries.exists(_.compression == CziFormat.CompressionJpgXr),
        s"transcode sidecar $sidecar still contains JPEG-XR subblocks")
      require(java.util.Arrays.equals(sidx.shape, idx.shape) &&
          sidx.pixelType == idx.pixelType,
        s"transcode sidecar $sidecar disagrees with $path: shape " +
        s"${sidx.shape.mkString("x")} vs ${idx.shape.mkString("x")}, " +
        s"pixelType ${sidx.pixelType} vs ${idx.pixelType}")
      (sidecar, sidx)
    }
  }

  /** Volume descriptor for a CZI file (driver-side directory parse). */
  def volume(path: String, stack: String, chunkZyx: Array[Int] = Array(128, 128, 128)): (Volume, CziIndex) = {
    val idx = CziReader.index(path)
    (volume(idx, stack, chunkZyx), idx)
  }

  /** Volume descriptor for a parsed CZI directory. */
  def volume(idx: CziIndex, stack: String, chunkZyx: Array[Int]): Volume = {
    val dtype = idx.pixelType match {
      case PixelGray8 => graft.core.PixelDtype.U8
      case PixelGray16 => graft.core.PixelDtype.U16
      case PixelGray32Float => graft.core.PixelDtype.F32
      case other => throw new IllegalArgumentException(s"unsupported CZI pixel type $other")
    }
    Volume(stack, 0, idx.shape, Array(1, 1, chunkZyx(0), chunkZyx(1), chunkZyx(2)), dtype)
  }

  /** The chunk tiles `[tiles.start, tiles.end)` of one (timepoint,
    * channel, z-slab), by index in row-major (y, x) order; the default is
    * every tile of the slab. Each tile gets one buffer, and each subblock
    * of the frame that overlaps one of them is decoded once and copied
    * straight into them at its start offset, in directory order
    * (reference placement semantics, `utils.py:269-276`), so overlapping
    * mosaic tiles resolve last-in-directory-order wins. The one pixel
    * kernel behind [[scan]] and the `format("czi")` connector's partition
    * reader, so a fix lands in exactly one place.
    *
    * Yields `(ty, tx, shape5, bytes)` per tile, in tile order. */
  def slabChunks(in: org.apache.hadoop.fs.FSDataInputStream,
                 entries: Array[SubBlockEntry], shape: Array[Long],
                 chunk: Array[Int], origin: Array[Int], isz: Int,
                 tIdx: Int, cIdx: Int, slab: Int,
                 tiles: Range = 0 until Int.MaxValue): Iterator[(Int, Int, Array[Int], Array[Byte])] = {
    val gridX = ChunkGrid.ceilDiv(shape(4), chunk(4)).toInt
    val own = tiles.start until
      math.min(ChunkGrid.ceilDiv(shape(3), chunk(3)) * gridX, tiles.end.toLong).toInt
    val z0 = slab * chunk(2)
    def shape5(i: Int): Array[Int] =
      ChunkGrid.clampedChunkShape(Array(tIdx, cIdx, slab, i / gridX, i % gridX), shape, chunk)
    val bufs = own.map(i => new Array[Byte](shape5(i).product * isz)).toArray
    entries.foreach { e =>
      require(e.size("C") == 1, "subblocks spanning multiple channels unsupported")
      require(e.size("T") == 1, "subblocks spanning multiple timepoints unsupported")
      val at = Array(e.start("Z") - origin(2), e.start("Y") - origin(3), e.start("X") - origin(4))
      val dims = Array(e.size("Z"), e.size("Y"), e.size("X"))
      val zLo = math.max(at(0), z0)
      val zHi = math.min(at(0).toLong + dims(0), z0.toLong + chunk(2)).toInt
      if (zLo < zHi && e.start("C") - origin(1) == cIdx && e.start("T") - origin(0) == tIdx) {
        lazy val data = CziReader.subblockData(in, e)
        for {
          ty <- at(1) / chunk(3) to (at(1) + dims(1) - 1) / chunk(3)
          tx <- at(2) / chunk(4) to (at(2) + dims(2) - 1) / chunk(4)
          if own.contains(ty * gridX + tx)
        } {
          val i = ty * gridX + tx
          val tileAt = Array(z0, ty * chunk(3), tx * chunk(4))
          val lo = Array(zLo, math.max(at(1), tileAt(1)), math.max(at(2), tileAt(2)))
          val box = Array(zHi - zLo,
            math.min(at(1) + dims(1), tileAt(1) + chunk(3)) - lo(1),
            math.min(at(2) + dims(2), tileAt(2) + chunk(4)) - lo(2))
          Regrid.copyBox(data, dims, Array.tabulate(3)(a => lo(a) - at(a)),
            bufs(i - own.start), shape5(i).drop(2), Array.tabulate(3)(a => lo(a) - tileAt(a)),
            box, isz)
        }
      }
    }
    own.iterator.map { i =>
      val b = bufs(i - own.start)
      bufs(i - own.start) = null // an emitted tile is its consumer's to keep or drop
      (i / gridX, i % gridX, shape5(i), b)
    }
  }

  /** Scan the file into level-0 chunks.
    *
    * Generalizes the reference's 1-channel-per-file assumption
    * (`utils.py:355`): multi-channel and multi-timepoint files scan as
    * one task per (timepoint, channel, z-slab, tile run) — frames are
    * independent slabs, so t>1 / c>1 add parallelism, not buffer size.
    * Each subblock must carry a single frame (T and C size 1, the ZISRAW
    * norm); a task keeps only the subblocks of its own frame. */
  def scan(spark: SparkSession, path: String, vol: Volume, idx: CziIndex): Dataset[ZarrChunk] =
    scan(spark, path, vol, idx, MaxTaskBytes)

  private[czi] def scan(spark: SparkSession, path: String, vol: Volume, idx: CziIndex,
                        maxTaskBytes: Long): Dataset[ZarrChunk] = {
    import spark.implicits._
    val chunk = vol.chunk
    val shape = vol.shape
    val zSlabs = ChunkGrid.ceilDiv(shape(2), chunk(2))
    val nC = shape(1)
    val nT = shape(0)
    val runs = tileRuns(vol, maxTaskBytes)
    val nRuns = runs.count
    val stack = vol.stack
    val origin = idx.origin
    val entries = idx.entries.toArray
    val isz = vol.dtype.itemSize

    val hconf = graft.core.HadoopConf.snapshot(spark.sparkContext.hadoopConfiguration)
    spark.range(nT * nC * zSlabs * nRuns).mapPartitions { taskIt =>
      val conf = graft.core.HadoopConf.restore(hconf)
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      taskIt.flatMap { taskId =>
        val frameSlab = taskId / nRuns
        val tIdx = (frameSlab / (nC * zSlabs)).toInt
        val cIdx = (frameSlab / zSlabs % nC).toInt
        val slab = (frameSlab % zSlabs).toInt
        slabChunks(in, entries, shape, chunk, origin, isz, tIdx, cIdx, slab,
            runs((taskId % nRuns).toInt)).map {
          case (ty, tx, shape5, out) =>
            ZarrChunk(stack, 0, tIdx, cIdx, slab, ty, tx, shape5, out)
        }
      }
    }
  }
}
