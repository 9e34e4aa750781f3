package graft.sources.czi

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import com.github.luben.zstd.Zstd

/** Synthetic ZISRAW writer (dev fixture + gate-query input generator): emits a minimal valid CZI (Gray16, per-z-slice
  * subblocks, mix of uncompressed and zstd0) so the reader round-trips
  * without real Zeiss fixtures. Mirrors the public spec fields used by
  * [[CziReader]]. */
object SyntheticCzi {

  /** The session's Hadoop conf (where `fs.<scheme>.impl` registrations
    * live — the MockSchemeFsSpec bug class), falling back to a default
    * conf only when no session exists (schemeless unit-test paths). */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Scheme-qualified fixture paths (a `mock://` or object-store scratch
    * root) are written through the Hadoop FS API: the file is built in
    * memory, the header's directory position patched in the buffer, and
    * the bytes shipped in ONE create — Hadoop filesystems have no
    * random-access write, so the local writers' seek-and-patch is not
    * portable. Gate fixtures are MBs; the GB-scale rehearsal fixture
    * stays on the streaming local path below. */
  private def writeWholeFile(path: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def patchHeaderBytes(arr: Array[Byte], dirPos: Long): Unit = {
    val b = ByteBuffer.wrap(arr).order(ByteOrder.LITTLE_ENDIAN)
    // payload offset 0: Major..Res2 (16) + GUIDs (32) + FilePart (4) = 52
    b.position(32); b.putInt(1); b.putInt(0)
    b.position(32 + 52); b.putLong(dirPos)
  }

  private def segHeader(id: String, alloc: Long, used: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    val idb = id.getBytes("US-ASCII")
    b.put(idb)
    b.position(16)
    b.putLong(alloc)
    b.putLong(used)
    b.array()
  }

  private def align32(n: Long): Long = (n + 31) / 32 * 32

  private def entryBytes(pixelType: Int, filePos: Long, compression: Int,
                         dims: Seq[(String, Int, Int)],
                         stored: Map[String, Int] = Map.empty): Array[Byte] = {
    val b = ByteBuffer.allocate(32 + 20 * dims.size).order(ByteOrder.LITTLE_ENDIAN)
    b.put('D'.toByte); b.put('V'.toByte)
    b.putInt(pixelType)
    b.putLong(filePos)
    b.putInt(0)            // FilePart
    b.putInt(compression)
    b.put(0.toByte)        // PyramidType
    b.position(b.position() + 5)
    b.putInt(dims.size)
    dims.foreach { case (d, start, size) =>
      val db = d.getBytes("US-ASCII")
      val padded = java.util.Arrays.copyOf(db, 4)
      b.put(padded)
      b.putInt(start)
      b.putInt(size)
      b.putFloat(0.0f)
      // StoredSize: equals the logical size for level-0 subblocks; a
      // pyramid fixture overrides it smaller (czifile's level marker)
      b.putInt(stored.getOrElse(d, size))
    }
    b.array()
  }

  private def encodePixels(values: Array[Int], isz: Int): Array[Byte] = {
    val out = new Array[Byte](values.length * isz)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      isz match {
        case 1 => out(i) = (v & 0xFF).toByte
        case 2 =>
          out(2 * i) = (v & 0xFF).toByte
          out(2 * i + 1) = ((v >>> 8) & 0xFF).toByte
        case 4 =>
          val bits = java.lang.Float.floatToIntBits(v.toFloat)
          var b = 0
          while (b < 4) { out(4 * i + b) = ((bits >>> (8 * b)) & 0xFF).toByte; b += 1 }
      }
      i += 1
    }
    out
  }

  /** One positioned subblock for [[writeTiles]]: `dims` carry the tile's
    * own start offsets (stage coordinates) and any enumeration axes
    * (S/M/...); `pixels` are z-major (z, y, x) over the tile's Z/Y/X
    * sizes; `stored` overrides StoredSize per axis to fake a pyramid
    * (reduced-resolution) subblock. */
  final case class Tile(dims: Seq[(String, Int, Int)], pixels: Array[Int],
                        compression: Int = CziFormat.CompressionNone,
                        stored: Map[String, Int] = Map.empty)

  /** Arbitrary-tile writer — the mosaic/scene fixture generator: unlike
    * [[writeTC]] (full-plane subblock per z-slice), every tile here
    * carries its own Y/X placement, so multi-scene and mosaic layouts
    * (plus interleaved pyramid subblocks) can be synthesized.
    * `tiles` is consumed streaming (pass an Iterator for volumes larger
    * than memory — only the current tile's pixels are ever resident). */
  /** Scheme-qualified => must go through the Hadoop FS API. NOTE: a
    * Hadoop Path normalizes "scheme://host-less" URIs to a SINGLE slash
    * ("mock:/tmp/..."), so detection parses the URI instead of string-
    * matching "://". Schemeless local paths keep java.io (random-access
    * header patch, streaming-friendly for the GB rehearsal fixture). */
  private def schemeQualified(path: String): Boolean =
    new org.apache.hadoop.fs.Path(path).toUri.getScheme != null

  def writeTiles(path: String, tiles: IterableOnce[Tile],
                 pixelType: Int = CziFormat.PixelGray16): Unit =
    if (schemeQualified(path)) {
      val buf = new java.io.ByteArrayOutputStream()
      val dirPos = streamTiles(new DataOutputStream(buf), tiles, pixelType)
      val arr = buf.toByteArray
      patchHeaderBytes(arr, dirPos)
      writeWholeFile(path, arr)
    } else {
      // local path: STREAM (the GB-scale rehearsal fixture passes an
      // Iterator precisely so only one tile is ever resident) and patch
      // the header in place afterwards
      val out = new DataOutputStream(new FileOutputStream(path))
      val dirPos = try streamTiles(out, tiles, pixelType) finally out.close()
      patchHeader(path, dirPos)
    }

  /** Emits the segment stream for [[writeTiles]]; returns the directory
    * segment's position (the value the file header must carry). */
  private def streamTiles(out: DataOutputStream, tiles: IterableOnce[Tile],
                          pixelType: Int): Long = {
    val isz = CziFormat.bytesPerPixel(pixelType)
    var pos = 0L
    def emit(bytes: Array[Byte]): Unit = { out.write(bytes); pos += bytes.length }
    def pad(n: Long): Unit = { out.write(new Array[Byte](n.toInt)); pos += n }

    val headerPayload = 512
    emit(segHeader(CziFormat.IdFile, headerPayload, headerPayload))
    pad(headerPayload)

    val entryBlobs = Seq.newBuilder[Array[Byte]]
    for (tile <- tiles.iterator) {
      // a pyramid fixture stores stored-size pixels, not logical-size
      val nPix = tile.dims.collect {
        case (d, _, size) if d == "Z" || d == "Y" || d == "X" =>
          tile.stored.getOrElse(d, size).toLong
      }.product
      require(tile.pixels.length.toLong == nPix,
        s"tile pixels ${tile.pixels.length} != stored Z*Y*X $nPix")
      val raw = encodePixels(tile.pixels, isz)
      val payload = tile.compression match {
        case CziFormat.CompressionNone => raw
        case CziFormat.CompressionZstd0 => Zstd.compress(raw, 3)
        case CziFormat.CompressionZstd1 => Array[Byte](1) ++ Zstd.compress(raw, 3)
        // containment-path fixture: the payload is the raw pixels, not a
        // JPEG-XR stream — only valid for tests that never decode it
        // (transcode-sidecar resolution, the loud rejection)
        case CziFormat.CompressionJpgXr => raw
        case other => throw new IllegalArgumentException(s"unsupported fixture compression $other")
      }
      val entry = entryBytes(pixelType, pos, tile.compression, tile.dims, tile.stored)
      entryBlobs += entry
      val headerSpace = math.max(256, 16 + entry.length)
      val used = headerSpace + payload.length
      val alloc = align32(used)
      emit(segHeader(CziFormat.IdSubBlock, alloc, used))
      val fixed = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      fixed.putInt(0)                      // MetadataSize
      fixed.putInt(0)                      // AttachmentSize
      fixed.putLong(payload.length.toLong) // DataSize
      emit(fixed.array())
      emit(entry)
      pad(headerSpace - 16 - entry.length)
      emit(payload)
      pad(alloc - used)
    }

    val dirPos = pos
    val blobs = entryBlobs.result()
    val dirUsed = 4 + 124 + blobs.map(_.length).sum
    emit(segHeader(CziFormat.IdDirectory, align32(dirUsed), dirUsed))
    val cnt = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    cnt.putInt(blobs.size)
    emit(cnt.array())
    pad(124)
    blobs.foreach(emit)
    pad(align32(dirUsed) - dirUsed)
    dirPos
  }

  private def patchHeader(path: String, dirPos: Long): Unit = {
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      // payload offset 0: Major..Res2 (16) + GUIDs (32) + FilePart (4) = 52
      raf.seek(32 + 52)
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(dirPos)
      raf.write(b.array())
      raf.seek(32)
      val mm = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      mm.putInt(1); mm.putInt(0)
      raf.write(mm.array())
    } finally raf.close()
  }

  /** Write `data(z)(y)(x)` as a CZI with one subblock per z-slice, cycling
    * the compression per slice: uncompressed, zstd0, zstd1 (plain header),
    * zstd1 with hi-lo byte packing (16-bit only — the encoder splits the
    * pixels into a low-byte plane then a high-byte plane before zstd, and
    * flags it in the 3-byte header). `pixelType` Gray16 (default) or Gray8
    * (values masked to a byte). */
  def write(path: String, data: Array[Array[Array[Int]]],
            pixelType: Int = CziFormat.PixelGray16): Unit =
    writeChannels(path, Array(data), pixelType)

  /** Multi-channel variant: `data(c)(z)(y)(x)`, one subblock per
    * (channel, z-slice), each carrying a C dimension entry (start=c,
    * size=1) — the ZISRAW norm the multi-channel scan relies on.
    * `extraDims(c, z)` appends additional dimension entries (scene/
    * mosaic/view axes) to that subblock's directory entry — the fixture
    * hook for the reader's axis-vocabulary handling. */
  def writeChannels(path: String, chans: Array[Array[Array[Array[Int]]]],
                    pixelType: Int = CziFormat.PixelGray16,
                    extraDims: (Int, Int) => Seq[(String, Int, Int)] = (_, _) => Nil): Unit =
    writeTC(path, Array(chans), pixelType, (_, c, z) => extraDims(c, z))

  /** Multi-timepoint, multi-channel variant: `data(t)(c)(z)(y)(x)`, one
    * subblock per (timepoint, channel, z-slice), each carrying T and C
    * dimension entries of span 1 (the ZISRAW norm — time series store one
    * frame per subblock). */
  def writeTC(path: String, frames: Array[Array[Array[Array[Array[Int]]]]],
              pixelType: Int = CziFormat.PixelGray16,
              extraDims: (Int, Int, Int) => Seq[(String, Int, Int)] = (_, _, _) => Nil): Unit =
    if (schemeQualified(path)) {
      val buf = new java.io.ByteArrayOutputStream()
      val dirPos = streamTC(new DataOutputStream(buf), frames, pixelType, extraDims)
      val arr = buf.toByteArray
      patchHeaderBytes(arr, dirPos)
      writeWholeFile(path, arr)
    } else {
      val out = new DataOutputStream(new FileOutputStream(path))
      val dirPos = try streamTC(out, frames, pixelType, extraDims) finally out.close()
      patchHeader(path, dirPos)
    }

  private def streamTC(out: DataOutputStream,
                       frames: Array[Array[Array[Array[Array[Int]]]]],
                       pixelType: Int,
                       extraDims: (Int, Int, Int) => Seq[(String, Int, Int)]): Long = {
    val nt = frames.length
    val nc = frames(0).length
    val data = frames(0)(0)
    val (nz, ny, nx) = (data.length, data(0).length, data(0)(0).length)
    val isz = CziFormat.bytesPerPixel(pixelType)
    var pos = 0L
    def emit(bytes: Array[Byte]): Unit = { out.write(bytes); pos += bytes.length }
    def pad(n: Long): Unit = { out.write(new Array[Byte](n.toInt)); pos += n }

    // --- file header segment (payload 512, patched at the end) ---
    val headerPayload = 512
    emit(segHeader(CziFormat.IdFile, headerPayload, headerPayload))
    pad(headerPayload)

    // --- subblocks ---
    val entries = Seq.newBuilder[(Long, Int, Seq[(String, Int, Int)])]
    for (t <- 0 until nt; c <- 0 until nc; z <- 0 until nz) {
      val slicePixels = new Array[Byte](ny * nx * isz)
      for (y <- 0 until ny; x <- 0 until nx) {
        val v = frames(t)(c)(z)(y)(x)
        isz match {
          case 1 => slicePixels(y * nx + x) = (v & 0xFF).toByte
          case 2 =>
            slicePixels(2 * (y * nx + x)) = (v & 0xFF).toByte
            slicePixels(2 * (y * nx + x) + 1) = ((v >>> 8) & 0xFF).toByte
          case 4 => // Gray32Float: the int fixture value, as an LE float
            val bits = java.lang.Float.floatToIntBits(v.toFloat)
            var b = 0
            while (b < 4) {
              slicePixels(4 * (y * nx + x) + b) = ((bits >>> (8 * b)) & 0xFF).toByte
              b += 1
            }
        }
      }
      val compression = z % 4 match {
        case 0 => CziFormat.CompressionNone
        case 1 => CziFormat.CompressionZstd0
        case _ => CziFormat.CompressionZstd1
      }
      val hiLo = compression == CziFormat.CompressionZstd1 && z % 4 == 3 && isz == 2
      val payload = compression match {
        case CziFormat.CompressionNone => slicePixels
        case CziFormat.CompressionZstd0 => Zstd.compress(slicePixels, 3)
        case _ =>
          val body = if (hiLo) Zstd.compress(graft.core.Blosc.shuffle(slicePixels, 2), 3)
                     else Zstd.compress(slicePixels, 3)
          val hdr: Array[Byte] = if (hiLo) Array(3, 1, 1) else Array(1)
          hdr ++ body
      }
      // single-T files keep their historical dim list (no T entry): the
      // reader squeezes the absent axis to extent [0, 1) either way, and
      // existing fixtures stay byte-identical
      val tDim = if (nt > 1) Seq(("T", t, 1)) else Nil
      val dims = Seq(("X", 0, nx), ("Y", 0, ny), ("Z", z, 1), ("C", c, 1)) ++
        tDim ++ extraDims(t, c, z)
      val entry = entryBytes(pixelType, pos, compression, dims)
      val headerSpace = math.max(256, 16 + entry.length)
      val used = headerSpace + payload.length
      val alloc = align32(used)
      entries += ((pos, compression, dims))
      emit(segHeader(CziFormat.IdSubBlock, alloc, used))
      val fixed = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      fixed.putInt(0)                   // MetadataSize
      fixed.putInt(0)                   // AttachmentSize
      fixed.putLong(payload.length.toLong) // DataSize
      emit(fixed.array())
      emit(entry)
      pad(headerSpace - 16 - entry.length)
      emit(payload)
      pad(alloc - used)
    }

    // --- directory segment ---
    val dirPos = pos
    val entryList = entries.result()
    val entryBlobs = entryList.map { case (fp, comp, dims) =>
      entryBytes(pixelType, fp, comp, dims)
    }
    val dirUsed = 4 + 124 + entryBlobs.map(_.length).sum
    emit(segHeader(CziFormat.IdDirectory, align32(dirUsed), dirUsed))
    val cnt = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    cnt.putInt(entryBlobs.size)
    emit(cnt.array())
    pad(124)
    entryBlobs.foreach(emit)
    pad(align32(dirUsed) - dirUsed)
    dirPos
  }
}
