package graft.io.zarr

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => streamingw}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Blosc, ChunkGrid}
import graft.io.{GridRange, GridScan, GridScanBuilder}

/** Zarr v2 DataSource V2: `spark.read.format("zarr")` over a chunk store
  * and `df.write.format("zarr")` into one — the engine's array storage as
  * a first-class Spark source/sink (SURVEY.md §4: the one custom physical
  * component the design calls for; replaces reference K1/S6,
  * `czi_to_zarr.py:585-608,611,624`).
  *
  * Options: `path` (store root), `stack`, `level`.
  *
  * Read: partitions are ranges of the chunk grid — planned from `.zarray`
  * arithmetic, never by listing (at 100 TB the store has billions of
  * chunk files; listing is the scalability bug the plan avoids). The
  * pushdown (coordinate and column pruning, COUNT/MIN/MAX with or
  * without GROUP BY) is the one shared with the CZI connector,
  * `graft/io/GridScan.scala`; every axis is prunable. Each reader opens
  * only its own chunk files; missing files yield fill-value (zeros)
  * chunks, matching Zarr semantics. A chunk file that does not decode to
  * exactly its clamped shape (checked on the file length and the frame
  * header before either sizes an allocation) fails the task with
  * `corrupt zarr chunk at <path>`.
  *
  * Write: `ZarrDataWriter.put` is the store's only chunk encoder and
  * committer; this sink calls it per row, and the conversion job
  * (`ZeissJob.convertAll`) calls it from the task that made each chunk:
  * the CZI slab task for level 0, the pyramid's reduce task for levels
  * 1... It encodes with the codec the driver declared in the level's
  * `.zarray` (Blosc/zstd at its clevel and dtype stride, or raw for
  * `compressor: null`) and commits each chunk by tmp + atomic rename
  * (lock-free, reference X8); commit is metadata-free because chunk
  * placement is deterministic by coordinates. A rename that returns
  * false with no chunk at the destination fails the write. Metadata
  * (`ZarrIO.writeMetadata`) must exist first.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "zarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrDataSource.chunkSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ZarrTable(properties.asScala.toMap)
}

object ZarrDataSource {
  /** Row shape of a chunk store scan — mirrors [[graft.core.ZarrChunk]]. */
  val chunkSchema: StructType = StructType(Seq(
    StructField("stack", StringType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("t", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("z", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("shape", ArrayType(IntegerType), nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

class ZarrTable(props: Map[String, String]) extends Table with SupportsRead with SupportsWrite {
  private val root = props.getOrElse("path", sys.error("zarr: 'path' option required"))
  // stack/level identify a dataset for reads; writes take them per-row
  private def stack = props.getOrElse("stack", sys.error("zarr: 'stack' option required for reads"))
  private def level = props.getOrElse("level", "0").toInt

  override def name(): String = s"zarr:$root"
  override def schema(): StructType = ZarrDataSource.chunkSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(root, stack, level)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZarrWriteBuilder(root, props.get("stack"), props.get("level").map(_.toInt))
}

/** The shared grid pushdown ([[graft.io.GridScanBuilder]]) with every axis
  * prunable. At 100 TB a store has ~10^8 chunk files; a query over one
  * z-slab plans only that slab's chunks, not enumerate-then-filter the
  * full grid — the Zarr analogue of parquet partition pruning.
  */
class ZarrScanBuilder(root: String, stack: String, level: Int)
    extends GridScanBuilder(GridScan.axes.toSet) {
  override def build(): Scan = new ZarrScan(root, stack, level, lo, hi, required, aggOps)
}

class ZarrScan(root: String, stack: String, level: Int,
               lo: Array[Long], hi: Array[Long], required: StructType,
               aggOps: Option[GridScan.AggOps] = None)
    extends GridScan("ZarrScan", s"$root/$stack/$level", lo, hi, required, aggOps) {
  // driver-side: only the tiny .zarray descriptor is read; the chunk grid
  // stays arithmetic
  private lazy val meta = ZarrIO.readZarray(root, stack, level)
  override protected lazy val grid: Array[Long] = ChunkGrid.gridShape(meta.shape, meta.chunk)

  // one row per chunk of the pruned sub-grid, range-partitioned
  override protected def planDataPartitions(): Array[InputPartition] =
    GridScan.ranged(ext.product)

  override protected def dataReaderFactory(): PartitionReaderFactory =
    ZarrReaderFactory(root, stack, level, meta.shape, meta.chunk, meta.compressed,
      meta.dtype.itemSize, base, ext, required.fieldNames,
      graft.core.HadoopConf.snapshot())
}

final case class ZarrReaderFactory(root: String, stack: String, level: Int,
                                   shape: Array[Long], chunk: Array[Int],
                                   compressed: Boolean, itemSize: Int,
                                   base: Array[Long], ext: Array[Long],
                                   cols: Array[String], hconf: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GridRange]
    new ZarrPartitionReader(this, p.first, p.last)
  }
}

class ZarrPartitionReader(f: ZarrReaderFactory, first: Long, last: Long)
    extends PartitionReader[InternalRow] {
  import f._

  private lazy val fs =
    new Path(root).getFileSystem(graft.core.HadoopConf.restore(hconf))
  private var cur = first - 1
  private var row: InternalRow = _

  override def next(): Boolean = {
    cur += 1
    if (cur > last) return false
    // linear index within the pruned sub-grid -> absolute chunk coords
    val sub = ChunkGrid.chunkCoords(cur, ext)
    val coords = Array.tabulate(5)(d => base(d) + sub(d))
    val cs = ChunkGrid.clampedChunkShape(coords, shape, chunk)
    // a data-free projection never touches the filesystem
    lazy val raw = {
      val p = new Path(s"$root/$stack/$level/${coords.mkString("/")}")
      val want = cs.product * itemSize
      // one metadata call per chunk (each is a HEAD on an object store):
      // only a missing file is a fill_value=0 chunk
      val len =
        try Some(fs.getFileStatus(p).getLen)
        catch { case _: java.io.FileNotFoundException => None }
      len match {
        case None => new Array[Byte](want)
        case Some(n) =>
          // a corrupt chunk in a 100 TB store must surface WITH ITS PATH —
          // a bare frame/length error from deep inside the codec is
          // undebuggable when a million tasks each read thousands of files
          def corrupt(msg: String, cause: Exception = null) =
            new IllegalStateException(s"corrupt zarr chunk at $p: $msg", cause)
          // IO errors propagate as they are; only the bytes' content is judged.
          // Neither the file length nor a header sizes an allocation unchecked:
          // no Blosc v1 frame exceeds nbytes + 16, and an oversized array
          // request is an OutOfMemoryError that kills the executor
          val max = if (compressed) want + 16L else want.toLong
          val in = fs.open(p)
          // a raw chunk is read into the array the row keeps; a frame into
          // this thread's frame buffer, and decoded from there
          val buf = try {
            if (n > max) throw corrupt(s"$n bytes, at most $max expected")
            val b = if (compressed) Blosc.frameBuffer(n.toInt) else new Array[Byte](n.toInt)
            in.readFully(0, b, 0, n.toInt)
            b
          } finally in.close()
          try {
            val out =
              if (!compressed) buf
              else {
                val nbytes = Blosc.header(buf, n.toInt).nbytes
                require(nbytes == want, s"header nbytes=$nbytes, expected $want")
                Blosc.decompress(buf, n.toInt)
              }
            require(out.length == want, s"${out.length} bytes, expected $want")
            out
          } catch { case e: Exception => throw corrupt(e.getMessage, e) }
      }
    }
    val values: Array[Any] = cols.map {
      case "stack" => UTF8String.fromString(stack)
      case "level" => level
      case "t" => coords(0).toInt
      case "c" => coords(1).toInt
      case "z" => coords(2).toInt
      case "y" => coords(3).toInt
      case "x" => coords(4).toInt
      case "shape" => org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(cs)
      case "data" => raw
    }
    row = InternalRow.fromSeq(values.toIndexedSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

class ZarrWriteBuilder(root: String, stack: Option[String], level: Option[Int])
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  // mode("overwrite") on a path-identified table = truncate: clear existing
  // chunk data but keep the store's dot-metadata (.zgroup/.zattrs/.zarray).
  // Scope: the `stack`/`level` options when given, else the whole store —
  // an unscoped overwrite into a multi-stack store is destructive by
  // definition, so callers writing one stack should pass option("stack").
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new ZarrBatchWrite(root, doTruncate, stack, level)
    // streaming append: chunk placement is deterministic by coordinates and
    // each file lands via tmp + atomic rename, so epoch REPLAYS are
    // idempotent (a retried epoch rewrites byte-identical files). Durability
    // is per-row: an epoch abandoned forever leaves its chunks visible —
    // at-least-once that converges to exactly-once when the stream resumes.
    // Only append mode is implemented: Complete output mode sets the
    // truncate flag per epoch, which a silent append would turn into stale
    // chunks a reader sees as valid data — reject it loudly instead.
    override def toStreaming: streamingw.StreamingWrite = {
      if (doTruncate)
        throw new UnsupportedOperationException(
          "zarr streaming sink supports append output mode only " +
          "(per-epoch truncate is not implemented)")
      ZarrStreamingWrite(root)
    }
  }
}

final case class ZarrStreamingWrite(root: String) extends streamingw.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): streamingw.StreamingDataWriterFactory =
    ZarrStreamingWriterFactory(root, graft.core.HadoopConf.snapshot())
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final case class ZarrStreamingWriterFactory(root: String, hconf: Array[(String, String)])
    extends streamingw.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(root, hconf)
}

class ZarrBatchWrite(root: String, truncate: Boolean,
                     onlyStack: Option[String], onlyLevel: Option[Int]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncate) {
      // driver-side, before any task launches: remove chunk subtrees
      // (non-dot children of each selected stack/level dir) so stale
      // chunks from a previous, larger extent can't survive the overwrite.
      // Restricted to the stack/level options when present — overwriting
      // stack 'a' must not silently zero stack 'b'.
      val fs = new Path(root).getFileSystem(graft.core.HadoopConf.get)
      val rootPath = new Path(root)
      if (fs.exists(rootPath)) {
        // an unscoped overwrite would truncate EVERY existing stack —
        // including ones the incoming rows never touch (the writer can't
        // know the incoming stack names before tasks run). Since the
        // stack option is not required for writes, fail loudly whenever
        // anything already exists and no scope was given.
        if (onlyStack.isEmpty) {
          val stacks = fs.listStatus(rootPath)
            .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
          if (stacks.nonEmpty)
            throw new IllegalArgumentException(
              s"mode('overwrite') on a store with ${stacks.length} existing stack(s) " +
              s"(${stacks.map(_.getPath.getName).sorted.mkString(", ")}) would " +
              "truncate all of them, including stacks this write never touches; " +
              "pass option(\"stack\", <name>) to scope the truncate")
        }
        for (stack <- fs.listStatus(rootPath)
               if stack.isDirectory && !stack.getPath.getName.startsWith(".")
               && onlyStack.forall(_ == stack.getPath.getName);
             level <- fs.listStatus(stack.getPath)
               if level.isDirectory && !level.getPath.getName.startsWith(".")
               && onlyLevel.forall(_.toString == level.getPath.getName);
             child <- fs.listStatus(level.getPath) if !child.getPath.getName.startsWith("."))
          fs.delete(child.getPath, true)
      }
    }
    ZarrWriterFactory(root, graft.core.HadoopConf.snapshot())
  }
  // chunk placement is deterministic by coordinates and writes are atomic
  // renames — no commit coordination needed
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class ZarrWriterFactory(root: String, hconf: Array[(String, String)])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(root, hconf)
}

class ZarrDataWriter(root: String, hconf: Array[(String, String)]) extends DataWriter[InternalRow] {
  private lazy val conf = graft.core.HadoopConf.restore(hconf)
  private lazy val fs = {
    val f = new Path(root).getFileSystem(conf)
    f.setWriteChecksum(false)
    f
  }
  // per-(stack,level) codec from the store's own .zarray: compressor=null
  // means raw chunks, and the shuffle stride and clevel must match what
  // the metadata declares — otherwise a reader honoring it mis-decodes
  // what we wrote. No .zarray is an error, not a silent default.
  private val codecCache = scala.collection.mutable.Map.empty[(String, Int), ZarrIO.ZarrayMeta]
  private def codecFor(stack: String, level: Int): ZarrIO.ZarrayMeta =
    codecCache.getOrElseUpdate((stack, level), {
      try ZarrIO.readZarray(root, stack, level, conf)
      catch { case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"zarr write: no $root/$stack/$level/.zarray; write the store metadata " +
          "(ZarrIO.writeMetadata) before its chunks", e)
      }
    })

  override def write(r: InternalRow): Unit =
    put(r.getUTF8String(0).toString, r.getInt(1),
      r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getBinary(8))

  /** Encode one chunk's raw bytes and commit them at their coordinates:
    * the store's only chunk encoder and committer. [[write]] calls it per
    * row; `ZeissJob` calls it from the task that made each chunk. */
  def put(stack: String, level: Int, t: Int, c: Int, z: Int, y: Int, x: Int,
          data: Array[Byte]): Unit = {
    val codec = codecFor(stack, level)
    val dir = new Path(s"$root/$stack/$level/$t/$c/$z/$y")
    val tmp = new Path(dir, s".tmp-$x-${java.util.UUID.randomUUID}")
    // a frame is written straight from this thread's encode buffer
    val (payload, len) =
      if (codec.compressed) Blosc.encode(data, codec.dtype.itemSize, codec.clevel, doShuffle = true)
      else (data, data.length)
    val out = fs.create(tmp, true)
    try out.write(payload, 0, len) finally out.close()
    val dst = new Path(dir, x.toString)
    // false is a lost race: a twin committer's dst stands, or a concurrent
    // `ZarrIO.cleanupTmp` took our tmp and no chunk was written
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      if (!fs.exists(dst))
        throw new java.io.IOException(s"zarr chunk commit lost: rename of $tmp to $dst failed and $dst does not exist")
    }
  }

  override def commit(): WriterCommitMessage = new WriterCommitMessage {}
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
