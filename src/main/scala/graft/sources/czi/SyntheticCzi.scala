package graft.sources.czi

import java.io.{FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import com.github.luben.zstd.Zstd

import graft.core.{Blosc, HadoopConf}

/** Synthetic ZISRAW writer (dev fixture + gate-query input generator):
  * emits minimal valid CZIs so the reader round-trips without real Zeiss
  * fixtures. [[writeTiles]] is the one writer: Gray8, Gray16 or
  * Gray32Float pixels; uncompressed, zstd0, zstd1 or zstd1 hi-lo
  * subblocks; each tile positioned by its own dimension entries, so
  * mosaic (M), scene and interleaved reduced-resolution pyramid subblocks
  * can be synthesized. [[write]], [[writeChannels]] and [[writeTC]] lay a
  * dense array over it as one full-plane tile per (t, c, z). Mirrors the
  * public spec fields used by [[CziReader]]. */
object SyntheticCzi {

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

  /** File offset of the header's directory position: segment header (32)
    * + Major..Res2 (16) + GUIDs (32) + FilePart (4). */
  private val DirPosOffset = 32 + 52

  private def le64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

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
        case 4 => // Gray32Float: the int fixture value, as an LE float
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
    * (reduced-resolution) subblock; `hiLo` (zstd1, 16-bit only) splits
    * the pixels into a low-byte plane then a high-byte plane before zstd
    * and flags it in the 3-byte zstd1 header. */
  final case class Tile(dims: Seq[(String, Int, Int)], pixels: Array[Int],
                        compression: Int = CziFormat.CompressionNone,
                        stored: Map[String, Int] = Map.empty,
                        hiLo: Boolean = false)

  /** Scheme-qualified => must go through the Hadoop FS API. NOTE: a
    * Hadoop Path normalizes "scheme://host-less" URIs to a SINGLE slash
    * ("mock:/tmp/..."), so detection parses the URI instead of string-
    * matching "://". */
  private def schemeQualified(path: String): Boolean =
    new org.apache.hadoop.fs.Path(path).toUri.getScheme != null

  /** Writes `tiles`, one subblock each, in order. `tiles` is consumed
    * streaming on a local path (pass an Iterator for volumes larger than
    * memory — only the current tile's pixels are ever resident) and the
    * header's directory position is patched in place afterwards. A
    * scheme-qualified path (a `mock://` or object-store scratch root) is
    * built in memory, patched in the buffer and shipped in ONE create
    * through the session's Hadoop conf: Hadoop filesystems have no
    * random-access write. Both branches emit the same bytes. */
  def writeTiles(path: String, tiles: IterableOnce[Tile],
                 pixelType: Int = CziFormat.PixelGray16): Unit =
    if (schemeQualified(path)) {
      val buf = new java.io.ByteArrayOutputStream()
      val dirPos = streamTiles(buf, tiles, pixelType)
      val arr = buf.toByteArray
      System.arraycopy(le64(dirPos), 0, arr, DirPosOffset, 8)
      val p = new org.apache.hadoop.fs.Path(path)
      val out = p.getFileSystem(HadoopConf.get).create(p, true)
      try out.write(arr) finally out.close()
    } else {
      val out = new FileOutputStream(path)
      val dirPos = try streamTiles(out, tiles, pixelType) finally out.close()
      val raf = new java.io.RandomAccessFile(path, "rw")
      try { raf.seek(DirPosOffset); raf.write(le64(dirPos)) } finally raf.close()
    }

  /** Emits the segment stream for [[writeTiles]]; returns the directory
    * segment's position (the value the file header must carry). */
  private def streamTiles(out: OutputStream, tiles: IterableOnce[Tile],
                          pixelType: Int): Long = {
    val isz = CziFormat.bytesPerPixel(pixelType)
    var pos = 0L
    def emit(bytes: Array[Byte]): Unit = { out.write(bytes); pos += bytes.length }
    def pad(n: Long): Unit = { out.write(new Array[Byte](n.toInt)); pos += n }

    // file header: Major 1, Minor 0, the rest zero until the directory
    // position is patched in
    val headerPayload = 512
    emit(segHeader(CziFormat.IdFile, headerPayload, headerPayload))
    emit(ByteBuffer.allocate(headerPayload).order(ByteOrder.LITTLE_ENDIAN).putInt(1).array())

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
        case CziFormat.CompressionZstd1 if tile.hiLo =>
          Array[Byte](3, 1, 1) ++ Zstd.compress(Blosc.shuffle(raw, 2), 3)
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

  /** Write `data(z)(y)(x)` as a CZI with one subblock per z-slice, cycling
    * the compression per slice: uncompressed, zstd0, zstd1 (plain header),
    * zstd1 hi-lo ([[Tile.hiLo]], 16-bit only). `pixelType` Gray16
    * (default) or Gray8 (values masked to a byte). */
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
    * full-plane tile per (timepoint, channel, z-slice) in t-, c-, z-major
    * order, each carrying T and C dimension entries of span 1 (the ZISRAW
    * norm — time series store one frame per subblock). Tiles are built
    * lazily, one plane at a time. */
  def writeTC(path: String, frames: Array[Array[Array[Array[Array[Int]]]]],
              pixelType: Int = CziFormat.PixelGray16,
              extraDims: (Int, Int, Int) => Seq[(String, Int, Int)] = (_, _, _) => Nil): Unit = {
    val (nt, nc) = (frames.length, frames(0).length)
    val data = frames(0)(0)
    val (nz, ny, nx) = (data.length, data(0).length, data(0)(0).length)
    val isz = CziFormat.bytesPerPixel(pixelType)
    val tiles = for {
      t <- Iterator.range(0, nt); c <- Iterator.range(0, nc); z <- Iterator.range(0, nz)
    } yield {
      // single-T files keep their historical dim list (no T entry): the
      // reader squeezes the absent axis to extent [0, 1) either way
      val tDim = if (nt > 1) Seq(("T", t, 1)) else Nil
      val compression = z % 4 match {
        case 0 => CziFormat.CompressionNone
        case 1 => CziFormat.CompressionZstd0
        case _ => CziFormat.CompressionZstd1
      }
      Tile(Seq(("X", 0, nx), ("Y", 0, ny), ("Z", z, 1), ("C", c, 1)) ++ tDim ++ extraDims(t, c, z),
        frames(t)(c)(z).flatten, compression, hiLo = z % 4 == 3 && isz == 2)
    }
    writeTiles(path, tiles, pixelType)
  }
}
