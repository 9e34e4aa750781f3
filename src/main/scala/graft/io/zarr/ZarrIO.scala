package graft.io.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.{ChunkGrid, Volume}

/** Zarr v2 directory-store metadata and housekeeping (reference K1
  * metadata, `czi_to_zarr.py:585-593`).
  *
  * Layout: `root/<stack>/<level>/<t>/<c>/<z>/<y>/<x>` — one compressed
  * file per chunk, nested `dimension_separator="/"` exactly like the
  * reference store (`czi_to_zarr.py:585-593`).
  *
  * This object writes and reads the store's JSON (`.zgroup`, `.zattrs`,
  * `.zarray`) on the driver through the Hadoop FileSystem API, so
  * `file://`, `hdfs://` and `s3a://` all work unchanged, and sweeps
  * crashed writers' tmp files. Chunk data moves only through the
  * DataSource V2 pair [[ZarrDataSource]]: its `ZarrDataWriter.put`
  * (called per row by `df.write.format("zarr")` and from the conversion
  * job's tasks) takes its codec from the `.zarray` written here, and
  * `spark.read.format("zarr")` reads the chunks back.
  */
object ZarrIO {

  // session conf by default, not a fresh one: spark.hadoop.* overlays
  // (object-store credentials, custom fs.<scheme>.impl registrations) must
  // apply here
  private def fs(path: String, conf: Configuration = graft.core.HadoopConf.get): (FileSystem, Path) = {
    val p = new Path(path)
    val f = p.getFileSystem(conf)
    f.setWriteChecksum(false) // no .crc shadow files inside the Zarr store
    (f, p)
  }

  /** Driver-side: group + array metadata for one stack/level. */
  def writeMetadata(root: String, vol: Volume, nLevels: Int,
                    voxelZyx: Seq[Double] = Seq(1.0, 1.0, 1.0),
                    factorZyx: Seq[Int] = Seq(2, 2, 2),
                    channelNames: Seq[String] = Seq("ch0"),
                    originZyx: Option[Seq[Double]] = Some(Seq(0, 0, 0)),
                    compressed: Boolean = true, clevel: Int = 3): Unit = {
    val (f, rootPath) = fs(root)
    def put(p: Path, content: String): Unit = {
      val out = f.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // the store-root `.zgroup` is shared by every stack: written once
    val rootGroup = new Path(rootPath, ".zgroup")
    if (!f.exists(rootGroup)) put(rootGroup, ZarrMeta.zgroup)
    val stackPath = new Path(rootPath, vol.stack)
    put(new Path(stackPath, ".zgroup"), ZarrMeta.zgroup)
    val attrs = ZarrMeta.stackAttrs(vol.stack, vol.shape.toSeq, nLevels, voxelZyx,
      factorZyx, channelNames, originZyx, vol.dtype)
    // independent NGFF 0.4 conformance check (the reference validates via
    // ome_zarr.format.CurrentFormat(), czi_to_zarr.py:300-320); golden-JSON
    // specs alone would only compare this code against itself
    val violations = JsonSchema.validateNgffImage(attrs)
    require(violations.isEmpty,
      s"emitted .zattrs violates the NGFF 0.4 image schema: ${violations.mkString("; ")}")
    put(new Path(stackPath, ".zattrs"), attrs)
    // one .zarray per level; shapes follow the ceil cascade
    var shape = vol.shape
    for (l <- 0 until nLevels) {
      val lvlPath = new Path(stackPath, l.toString)
      put(new Path(lvlPath, ".zarray"),
        ZarrMeta.zarray(shape.toSeq, vol.chunk.toSeq, clevel = clevel,
          compressed = compressed, dtype = vol.dtype.zarrName))
      shape = ChunkGrid.downsampledShape(shape,
        Array(1, 1, factorZyx(0), factorZyx(1), factorZyx(2)))
    }
  }

  /** Crash-recovery sweep: delete orphaned `.tmp-*` files under `root`.
    * The tmp+atomic-rename protocol guarantees a VISIBLE chunk file is
    * always complete (rename is the commit point) and re-runs converge
    * (rename onto an existing chunk fails and the loser deletes its tmp),
    * but an attempt that dies MID-WRITE leaves its uniquely-named tmp
    * behind. Readers never see them (chunk names are bare coordinates;
    * tmps are dot-files), so this sweep is hygiene, not correctness —
    * run it before or after a re-run of a crashed job. Driver-side
    * recursive listing: one RPC stream per store, no data reads.
    *
    * CONCURRENCY HAZARD: the sweep cannot distinguish an orphan from a
    * tmp a LIVE writer created moments ago — deleting one between its
    * write and rename fails that single write attempt (the attempt's
    * rename finds no source and `ZarrDataWriter.put` throws; a task retry
    * re-converges, so the store is never corrupted, but the job sees a
    * spurious failure). Never run
    * the sweep concurrently with a write job against the same root; when
    * the caller can't rule that out, pass `minAgeMs` (e.g. 10 minutes)
    * so only tmps older than any plausible in-flight write are swept.
    *
    * CLOCK-SKEW ASSUMPTION: the age gate compares the DRIVER's
    * `System.currentTimeMillis()` against STORE modification times. On an
    * object store whose clock runs ahead of the driver, a fresh tmp's
    * mtime sits in the driver's future and the effective safety margin
    * shrinks by the skew (a behind-store clock only makes the sweep more
    * conservative). Size `minAgeMs` to dwarf plausible skew — the
    * 10-minute example above covers the single-digit-second skew of any
    * NTP-disciplined fleet with orders of magnitude to spare; do not pass
    * sub-minute values against a remote store. Returns the number of tmp
    * files removed. */
  def cleanupTmp(root: String, conf: Configuration, minAgeMs: Long = 0L): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    var n = 0L
    val cutoff = System.currentTimeMillis() - math.max(0L, minAgeMs)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= cutoff) {
        fs.delete(st.getPath, false)
        n += 1
      }
    }
    n
  }

  final case class ZarrayMeta(shape: Array[Long], chunk: Array[Int],
                              compressed: Boolean, dtype: graft.core.PixelDtype,
                              clevel: Int)

  /** Parse .zarray. `conf` defaults to the session's; an executor passes
    * the conf it restored from a driver snapshot. */
  def readZarray(root: String, stack: String, level: Int,
                 conf: Configuration = graft.core.HadoopConf.get): ZarrayMeta = {
    val (f, _) = fs(root, conf)
    val p = new Path(s"$root/$stack/$level/.zarray")
    val in = f.open(p)
    val content = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(content)
    import scala.jdk.CollectionConverters._
    val compressor = node.get("compressor")
    // the only codec this store reads and writes; a foreign one (numcodecs
    // Zstd, GZip, ...) fails here with its path, not later per chunk
    require(compressor.isNull || (compressor.path("id").asText() == "blosc" && compressor.has("clevel")),
      s"$p: unsupported zarr compressor $compressor (expected blosc with a clevel, or null)")
    ZarrayMeta(
      node.get("shape").elements().asScala.map(_.asLong()).toArray,
      node.get("chunks").elements().asScala.map(_.asInt()).toArray,
      !compressor.isNull,
      graft.core.PixelDtype.fromZarr(node.get("dtype").asText()),
      if (compressor.isNull) 0 else compressor.get("clevel").asInt())
  }
}
