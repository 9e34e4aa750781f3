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
  * read inside tasks. One task = one z-slab of chunk depth (the
  * reference's `axis_jumps`), which it scatters and cuts into chunk-grid
  * tiles with [[graft.operators.Regrid.copyBox]] — so level-0 chunking
  * needs '''no shuffle at all''': every chunk is
  * produced exactly once by the task owning its slab (mirrors the
  * bounded-memory slab streaming X3, `czi_to_zarr.py:596-608`).
  */
object CziSource {

  /** JPEG-XR containment (the T.832 entropy layer is out of scope
    * offline — see [[JpegXr]]'s class doc): if `path` contains JPEG-XR
    * (compression 4) subblocks, resolve to a losslessly transcoded
    * sidecar `<base>.transcoded.czi` produced by an external tool (e.g.
    * ZEISS's open-source `czicompress`, whose decompress mode rewrites
    * subblocks as zstd without touching pixel values). The sidecar is
    * validated to carry the same TCZYX shape and pixel type and no
    * remaining JPEG-XR subblocks. Without a sidecar this fails at
    * PLANNING time with the remediation, instead of deep inside an
    * executor task. Files without JPEG-XR pass through untouched (one
    * extra directory parse, KBs). */
  def resolveInput(path: String, conf: Configuration = graft.core.HadoopConf.get): String = {
    val idx = CziReader.index(path)
    if (!idx.entries.exists(_.compression == CziFormat.CompressionJpgXr)) path
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
      val sidx = CziReader.index(sidecar)
      require(!sidx.entries.exists(_.compression == CziFormat.CompressionJpgXr),
        s"transcode sidecar $sidecar still contains JPEG-XR subblocks")
      require(java.util.Arrays.equals(sidx.shape, idx.shape) &&
          sidx.pixelType == idx.pixelType,
        s"transcode sidecar $sidecar disagrees with $path: shape " +
        s"${sidx.shape.mkString("x")} vs ${idx.shape.mkString("x")}, " +
        s"pixelType ${sidx.pixelType} vs ${idx.pixelType}")
      sidecar
    }
  }

  /** Volume descriptor for a CZI file (driver-side directory parse). */
  def volume(path: String, stack: String, chunkZyx: Array[Int] = Array(128, 128, 128)): (Volume, CziIndex) = {
    val idx = CziReader.index(path)
    val dtype = idx.pixelType match {
      case PixelGray8 => graft.core.PixelDtype.U8
      case PixelGray16 => graft.core.PixelDtype.U16
      case PixelGray32Float => graft.core.PixelDtype.F32
      case other => throw new IllegalArgumentException(s"unsupported CZI pixel type $other")
    }
    val vol = Volume(stack, 0, idx.shape,
      Array(1, 1, chunkZyx(0), chunkZyx(1), chunkZyx(2)), dtype)
    (vol, idx)
  }

  /** One (timepoint, channel, z-slab)'s chunk tiles: scatter the slab's
    * subblocks into a buffer at their start offsets (reference placement
    * semantics, `utils.py:269-276`), then cut chunk-grid tiles — the
    * shared kernel behind [[scan]] and the `format("czi")` connector's
    * partition reader, so a fix lands in exactly one place.
    *
    * Yields `(ty, tx, shape5, bytes)` per tile. */
  def slabChunks(in: org.apache.hadoop.fs.FSDataInputStream,
                 entries: Array[SubBlockEntry], shape: Array[Long],
                 chunk: Array[Int], origin: Array[Int], isz: Int,
                 tIdx: Int, cIdx: Int, slab: Int): Iterator[(Int, Int, Array[Int], Array[Byte])] = {
    val (sy, sx) = (shape(3).toInt, shape(4).toInt)
    val gridY = ChunkGrid.ceilDiv(shape(3), chunk(3)).toInt
    val gridX = ChunkGrid.ceilDiv(shape(4), chunk(4)).toInt
    val z0 = slab * chunk(2)
    val zN = math.min(chunk(2).toLong, shape(2) - z0).toInt
    // guard the Int offset arithmetic below: a slab of a huge stitched XY
    // plane can exceed a JVM array — that is CziSourceShuffled's territory
    // (ZeissJob switches at 1 GiB), never a silent wrap here
    val slabBytes = zN.toLong * sy * sx * isz
    require(slabBytes <= Int.MaxValue,
      s"slab of $slabBytes bytes exceeds a JVM array (${zN}x${sy}x${sx}x$isz); " +
      "reduce chunk_z or use the shuffle-assembled scan for stitched planes")
    val buf = new Array[Byte](slabBytes.toInt)
    entries.foreach { e =>
      require(e.size("C") == 1, "subblocks spanning multiple channels unsupported")
      require(e.size("T") == 1, "subblocks spanning multiple timepoints unsupported")
      val ez0 = e.start("Z") - origin(2)
      val lo = math.max(ez0, z0)
      val hi = math.min(ez0 + e.size("Z"), z0 + zN)
      if (lo < hi && e.start("C") - origin(1) == cIdx
          && e.start("T") - origin(0) == tIdx) {
        val data = CziReader.subblockData(in, e)
        Regrid.copyBox(data, Array(e.size("Z"), e.size("Y"), e.size("X")), Array(lo - ez0, 0, 0),
          buf, Array(zN, sy, sx), Array(lo - z0, e.start("Y") - origin(3), e.start("X") - origin(4)),
          Array(hi - lo, e.size("Y"), e.size("X")), isz)
      }
    }
    // cut the slab into chunk tiles — chunk-local, no shuffle
    (for {
      ty <- 0 until gridY
      tx <- 0 until gridX
    } yield {
      val yN = math.min(chunk(3).toLong, shape(3) - ty.toLong * chunk(3)).toInt
      val xN = math.min(chunk(4).toLong, shape(4) - tx.toLong * chunk(4)).toInt
      val out = new Array[Byte](zN * yN * xN * isz)
      Regrid.copyBox(buf, Array(zN, sy, sx), Array(0, ty * chunk(3), tx * chunk(4)),
        out, Array(zN, yN, xN), Array(0, 0, 0), Array(zN, yN, xN), isz)
      (ty, tx, Array(1, 1, zN, yN, xN), out)
    }).iterator
  }

  /** Scan the file into level-0 chunks.
    *
    * Generalizes the reference's 1-channel-per-file assumption
    * (`utils.py:355`): multi-channel and multi-timepoint files scan as
    * one task per (timepoint, channel, z-slab) — frames are independent
    * slabs, so t>1 / c>1 add parallelism, not buffer size. Each subblock
    * must carry a single frame (T and C size 1, the ZISRAW norm); the
    * slab task keeps only the subblocks of its own frame. */
  def scan(spark: SparkSession, path: String, vol: Volume, idx: CziIndex): Dataset[ZarrChunk] = {
    import spark.implicits._
    val chunk = vol.chunk
    val shape = vol.shape
    val zSlabs = ChunkGrid.ceilDiv(shape(2), chunk(2))
    val nC = shape(1)
    val nT = shape(0)
    val stack = vol.stack
    val origin = idx.origin
    val entries = idx.entries.toArray
    val isz = vol.dtype.itemSize

    val hconf = graft.core.HadoopConf.snapshot(spark.sparkContext.hadoopConfiguration)
    spark.range(nT * nC * zSlabs).mapPartitions { taskIt =>
      val conf = graft.core.HadoopConf.restore(hconf)
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      taskIt.flatMap { taskId =>
        val tIdx = (taskId / (nC * zSlabs)).toInt
        val cIdx = (taskId / zSlabs % nC).toInt
        val slab = (taskId % zSlabs).toInt
        slabChunks(in, entries, shape, chunk, origin, isz, tIdx, cIdx, slab).map {
          case (ty, tx, shape5, out) =>
            ZarrChunk(stack, 0, tIdx, cIdx, slab, ty, tx, shape5, out)
        }
      }
    }
  }
}
