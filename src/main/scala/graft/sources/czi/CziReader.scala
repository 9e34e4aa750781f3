package graft.sources.czi

import java.io.DataInput
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

import com.github.luben.zstd.Zstd

import CziFormat._

/** ZISRAW parser over the Hadoop FileSystem API (seekable; works for
  * `file://` and `s3a://` alike).
  *
  * Replaces the reference's czifile-based subblock scan
  * (`utils.py:284-395` `read_slices_czi` + `utils.py:231-281`
  * `parallel_reader`): the directory is parsed once (driver, small), and
  * each Spark task re-opens the file and reads only the subblocks
  * intersecting its tile run — the task-parallel analogue of the
  * reference's thread pool (X7), with the same scatter-at-start-offset
  * placement (`utils.py:269-276`).
  */
object CziReader {

  private def le(buf: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)

  private def readFully(in: FSDataInputStream, pos: Long, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    in.readFully(pos, buf, 0, n)
    buf
  }

  /** Parse the segment header at `pos` -> (id, allocatedSize, usedSize). */
  private def segmentHeader(in: FSDataInputStream, pos: Long): (String, Long, Long) = {
    val b = readFully(in, pos, SegmentHeaderSize)
    val id = new String(b, 0, 16, "US-ASCII").takeWhile(_ != '\u0000').trim
    val bb = le(b)
    bb.position(16)
    val alloc = bb.getLong
    val used = bb.getLong
    (id, alloc, used)
  }

  /** Parse one DirectoryEntryDV at buffer position; returns entry + bytes consumed. */
  private def parseEntry(bb: ByteBuffer): (SubBlockEntry, Int) = {
    val base = bb.position()
    val schema = new String(Array(bb.get(), bb.get()).map(_.toChar))
    require(schema == "DV", s"unsupported directory entry schema '$schema'")
    val pixelType = bb.getInt
    val filePos = bb.getLong
    bb.getInt // FilePart
    val compression = bb.getInt
    bb.get() // PyramidType
    bb.position(bb.position() + 5) // reserved
    val dimCount = bb.getInt
    val dims = (0 until dimCount).map { _ =>
      val dim = new String(Array(bb.get(), bb.get(), bb.get(), bb.get()).map(_.toChar))
        .takeWhile(_ != '\u0000').trim
      val start = bb.getInt
      val size = bb.getInt
      bb.getFloat // StartCoordinate
      val stored = bb.getInt
      dim -> DimEntry(dim, start, size, stored)
    }.toMap
    (SubBlockEntry(filePos, pixelType, compression, dims), bb.position() - base)
  }

  /** Parse the file: header segment -> subblock directory -> index.
    * Driver-side; the directory is tiny compared to pixel data. */
  def index(path: String, conf: Configuration = graft.core.HadoopConf.get): CziIndex = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val (id, _, _) = segmentHeader(in, 0L)
      require(id == IdFile, s"not a CZI file (first segment '$id')")
      // int32 Major, Minor, Res1, Res2 (16), 2 GUIDs (32), int32 FilePart, int64 DirectoryPosition
      val dirPos = le(readFully(in, SegmentHeaderSize, 64)).getLong(52)

      val (dirId, _, dirUsed) = segmentHeader(in, dirPos)
      require(dirId == IdDirectory, s"expected directory at $dirPos, got '$dirId'")
      val dirBody = le(readFully(in, dirPos + SegmentHeaderSize, dirUsed.toInt))
      val entryCount = dirBody.getInt
      dirBody.position(dirBody.position() + 124)
      val allEntries = (0 until entryCount).map(_ => parseEntry(dirBody)._1)
      // Level-0 only, czifile parity (`filtered_subblock_directory` keeps
      // subblocks whose logical shape equals their stored shape): a mosaic
      // CZI interleaves reduced-resolution pyramid subblocks with the
      // full-resolution tiles; stitching a downsampled tile at its logical
      // extent would corrupt the plane, so they are filtered here and the
      // pyramid is rebuilt by our own windowed-mean operator instead.
      val entries = allEntries.filter(e =>
        e.dims.valuesIterator.forall(d => d.storedSize == d.size))
      require(entries.nonEmpty, "CZI has no full-resolution subblocks")

      val pixelType = entries.head.pixelType
      require(entries.forall(_.pixelType == pixelType), "mixed pixel types unsupported")

      // Global extent per axis: [min start, max start+size) — the squeeze+
      // pad-to-TCZYX of the reference (czi_to_zarr.py:517-522), assuming
      // 1 channel per file (utils.py:355).
      def extent(d: String): (Int, Int) = {
        val starts = entries.map(_.start(d))
        val ends = entries.map(e => e.start(d) + e.size(d))
        (starts.min, ends.max)
      }

      // Axis vocabulary beyond TCZYX, per the reference's tolerated set
      // (utils.py:438-459: b/v/i/h/r/s plus the czifile '0' sample axis;
      // 'M' is ZISRAW's mosaic-tile index). A singleton extra axis
      // squeezes away exactly like the reference's collapse-to-TCZYX.
      //
      // 'S' (scene) and 'M' (mosaic tile) spanning > 1 are POSITIONAL
      // ENUMERATION axes: each tile also carries its own Y/X start in
      // stage coordinates, so the reference's start-offset scatter
      // (`utils.py:269-276`) stitches them into one padded plane with the
      // S/M index never entering the placement arithmetic. The scan
      // (`CziSource.slabChunks`, copying subblocks in directory order) does
      // the same, so these spans are accepted and the global extent is
      // the stitched bounding box (gaps between tiles stay zero-filled; tiles
      // overlapping in Y/X resolve last-in-directory-order wins, the
      // reference's sequential-assignment semantics).
      //
      // 'B'/'V'/'I'/'H'/'R'/'0' spanning > 1 (multi-view, rotation,
      // phase...) genuinely re-image the SAME volume: folding them onto
      // one (z,y,x) grid would overwrite real data with a different
      // acquisition, so they still fail loudly.
      val known = Set("T", "C", "Z", "Y", "X", "B", "V", "I", "H", "R", "S", "M", "0")
      val present = entries.iterator.flatMap(_.dims.keysIterator).toSet
      val unknown = present -- known
      require(unknown.isEmpty, s"unknown CZI axes ${unknown.toSeq.sorted.mkString(", ")}")
      for (d <- (present -- Set("T", "C", "Z", "Y", "X", "S", "M")).toSeq.sorted) {
        val (lo, hi) = extent(d)
        if (hi - lo > 1)
          throw new UnsupportedOperationException(
            s"CZI axis '$d' spans [$lo, $hi): multi-view/rotation/phase files " +
            "are not supported — split them (e.g. one view per file) before ingest")
      }

      // Multi-timepoint files are first-class: the scans plan one task
      // per (timepoint, channel, z-slab) and each task keeps only its own
      // timepoint's subblocks. What must still hold is the ZISRAW norm
      // that a single subblock carries a single frame — a subblock
      // spanning several timepoints would need a T-major de-interleave
      // the placement kernel doesn't do, so it fails loudly here (same
      // policy as the multi-channel-subblock guard in the scans).
      for (e <- entries)
        if (e.size("T") > 1)
          throw new UnsupportedOperationException(
            s"CZI subblock spans ${e.size("T")} timepoints (T size > 1): " +
            "one-frame-per-subblock files only")

      val axes = Seq("T", "C", "Z", "Y", "X")
      val exts = axes.map(extent)
      val origin = exts.map(_._1).toArray
      val shape = exts.map(e => (e._2 - e._1).toLong).toArray
      CziIndex(shape, origin, pixelType, entries)
    } finally in.close()
  }

  /** Read + decompress one subblock's pixel payload. */
  def subblockData(in: FSDataInputStream, e: SubBlockEntry): Array[Byte] = {
    val (id, _, _) = segmentHeader(in, e.filePosition)
    require(id == IdSubBlock, s"expected subblock at ${e.filePosition}, got '$id'")
    val fixed = le(readFully(in, e.filePosition + SegmentHeaderSize, SubBlockFixedPart))
    val metadataSize = fixed.getInt
    fixed.getInt // AttachmentSize
    val dataSize = fixed.getLong
    // data offset: max(256, fixed part + entry size) from payload start
    val entrySize = 32 + 20 * e.dims.size
    val dataOff = math.max(SubBlockMinHeader, SubBlockFixedPart + entrySize) + metadataSize
    val raw = readFully(in, e.filePosition + SegmentHeaderSize + dataOff, dataSize.toInt)
    decode(raw, e)
  }

  /** Decompress a subblock payload per its Compression field. */
  def decode(raw: Array[Byte], e: SubBlockEntry): Array[Byte] = {
    val nPixels = e.dims.valuesIterator.map(_.size.toLong).product
    val expect = (nPixels * bytesPerPixel(e.pixelType)).toInt
    e.compression match {
      case CompressionNone =>
        require(raw.length == expect, s"subblock size ${raw.length} != $expect")
        raw
      case CompressionZstd0 =>
        val out = new Array[Byte](expect)
        val n = Zstd.decompressByteArray(out, 0, expect, raw, 0, raw.length)
        require(n == expect, s"zstd0 decoded $n of $expect")
        out
      case CompressionZstd1 =>
        // zstd1 = small header + zstd stream. Header: byte 0 = header size
        // (>=1); with size >= 3, byte 1 is the chunk id (1 = pixel-data
        // parameters) and byte 2 bit 0 is the hi-lo byte-packing flag. When
        // set, the encoder stored all low bytes of the 16-bit pixels
        // followed by all high bytes (a byte-plane split, identical to a
        // byte-shuffle with typesize 2), so the decoded stream must be
        // re-interleaved before it is valid LE pixel data.
        val hdr = raw(0) & 0xFF
        require(hdr >= 1 && hdr < raw.length, s"bad zstd1 header size $hdr")
        val hiLoPacked = hdr >= 3 && (raw(1) & 0xFF) == 1 && (raw(2) & 0x01) != 0
        val out = new Array[Byte](expect)
        val n = Zstd.decompressByteArray(out, 0, expect, raw, hdr, raw.length - hdr)
        require(n == expect, s"zstd1 decoded $n of $expect")
        if (hiLoPacked) {
          val bpp = bytesPerPixel(e.pixelType)
          require(bpp == 2, s"zstd1 hi-lo byte packing only defined for 16-bit pixels, got $bpp bytes/px")
          graft.core.Blosc.unshuffle(out, 2)
        } else out
      case CompressionJpgXr =>
        throw new UnsupportedOperationException("CZI compression 4 (JPEG-XR) is not decoded; " +
          "transcode the file losslessly to <base>.transcoded.czi (e.g. 'czicompress --command decompress')")
      case other =>
        throw new UnsupportedOperationException(s"CZI compression $other (JPEG?) not supported")
    }
  }
}
