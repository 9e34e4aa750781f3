package graft.io.zarr

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
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

/** Zarr v2 DataSource V2: `spark.read.format("zarr")` over a chunk store
  * and `df.write.format("zarr")` into one — the engine's array storage as
  * a first-class Spark source/sink (SURVEY.md §4: the one custom physical
  * component the design calls for; replaces reference K1/S6,
  * `czi_to_zarr.py:585-608,611,624`).
  *
  * Options: `path` (store root), `stack`, `level`.
  *
  * Read: one InputPartition per chunk-grid slab — planned from `.zarray`
  * arithmetic, never by listing (at 100 TB the store has billions of
  * chunk files; listing is the scalability bug the plan avoids). Each
  * reader opens only its own chunk files; missing files yield
  * fill-value (zeros) chunks, matching Zarr semantics. A chunk file that
  * does not decode to exactly its clamped shape fails the task with
  * `corrupt zarr chunk at <path>`.
  *
  * Write: the store's only chunk sink. Each task encodes its rows with
  * the codec the driver declared in the level's `.zarray` (Blosc/zstd
  * at its clevel and dtype stride, or raw for `compressor: null`) and
  * commits each chunk by tmp + atomic rename (lock-free, reference X8);
  * commit is metadata-free because chunk placement is deterministic by
  * coordinates. Metadata (`ZarrIO.writeMetadata`) must exist first.
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

final case class ZarrInputPartition(firstChunk: Long, lastChunk: Long) extends InputPartition

/** Pushes chunk-coordinate predicates into the grid arithmetic and prunes
  * unread columns.
  *
  * At 100 TB a store has ~10^8 chunk files; a query over one z-slab must
  * plan only that slab's chunks, not enumerate-then-filter the full grid.
  * Because chunk placement is pure arithmetic, an accepted coordinate
  * range shrinks `planInputPartitions` itself — the pruning happens before
  * any task launches, the Zarr analogue of parquet partition pruning.
  * Column pruning matters just as much: a scan that doesn't need `data`
  * (counts, coordinate joins, grid audits) never opens a chunk file.
  */
class ZarrScanBuilder(root: String, stack: String, level: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private val axes = Seq("t", "c", "z", "y", "x")
  // per-axis inclusive coordinate bounds, refined by each accepted filter
  private val lo = Array.fill(5)(0L)
  private val hi = Array.fill(5)(Long.MaxValue)
  private var pushed = Array.empty[Filter]
  private var required: StructType = ZarrDataSource.chunkSchema
  // complete aggregate pushdown: grouping axes + ops like ("count","") /
  // ("min","z"); groupAxes empty = the ungrouped single-row case
  private var aggOps: Option[(Seq[String], Seq[(String, String)])] = None

  private def refine(ax: Int, l: Long, h: Long): Unit = {
    lo(ax) = math.max(lo(ax), l)
    hi(ax) = math.min(hi(ax), h)
  }

  private def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Exactly-representable coordinate ranges are fully absorbed (no
    * residual re-evaluation); anything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filterNot { f =>
      val accepted = f match {
        case EqualTo(a, v) if axes.contains(a) =>
          asLong(v).exists { x => refine(axes.indexOf(a), x, x); true }
        case GreaterThan(a, v) if axes.contains(a) =>
          asLong(v).exists { x => refine(axes.indexOf(a), x + 1, Long.MaxValue); true }
        case GreaterThanOrEqual(a, v) if axes.contains(a) =>
          asLong(v).exists { x => refine(axes.indexOf(a), x, Long.MaxValue); true }
        case LessThan(a, v) if axes.contains(a) =>
          asLong(v).exists { x => refine(axes.indexOf(a), Long.MinValue, x - 1); true }
        case LessThanOrEqual(a, v) if axes.contains(a) =>
          asLong(v).exists { x => refine(axes.indexOf(a), Long.MinValue, x); true }
        case In(a, vs) if axes.contains(a) && vs.nonEmpty && vs.forall(asLong(_).isDefined) =>
          // prune to the value envelope but keep the filter residual —
          // the sub-grid is a superset of an In's point set
          val xs = vs.map(asLong(_).get)
          refine(axes.indexOf(a), xs.min, xs.max)
          false
        case _ => false
      }
      if (accepted) pushed :+= f
      accepted
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order; an empty projection (count(*)) keeps
    // nothing and the reader emits empty rows
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(ZarrDataSource.chunkSchema.filter(f => keep.contains(f.name)))
  }

  /** COUNT(*) / MIN / MAX over chunk coordinates are grid arithmetic —
    * answered from the driver-planned bounds with no IO at all, the
    * "billions of chunk files, zero list calls" property taken to its
    * endpoint. GROUP BY coordinate axes pushes down too: each group is a
    * coordinate combination of the grouped axes, its count the product of
    * the other axes' extents — still pure arithmetic, emitted without
    * opening a single chunk file (group enumeration is range-partitioned,
    * so even a billion-group axis stays distributed). Only exact cases
    * are accepted (every aggregate and every grouping column
    * translatable; residual-free bounds — an In's sub-grid superset is
    * pruning-only and never reaches here as agg pushdown runs on the
    * post-filter plan). */
  private def translate(agg: Aggregation): Option[(Seq[String], Seq[(String, String)])] = {
    def ax(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 && axes.contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    val groups = agg.groupByExpressions.toSeq.map(ax)
    val ops = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count", ""))
      case m: Min => ax(m.column).map(("min", _))
      case m: Max => ax(m.column).map(("max", _))
      case _ => None
    }
    if (ops.forall(_.isDefined) && groups.forall(_.isDefined) &&
        groups.flatten.distinct.size == groups.size)
      Some((groups.flatten, ops.map(_.get)))
    else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case Some(ops) => aggOps = Some(ops); true
      case None => false
    }

  override def build(): Scan = new ZarrScan(root, stack, level, lo, hi, required, aggOps)
}

class ZarrScan(root: String, stack: String, level: Int,
               lo: Array[Long], hi: Array[Long], required: StructType,
               aggOps: Option[(Seq[String], Seq[(String, String)])] = None)
    extends Scan with Batch {
  // driver-side: only the tiny .zarray descriptor is read; the chunk grid
  // stays arithmetic
  private lazy val meta = ZarrIO.readZarray(root, stack, level)
  private lazy val (shape, chunk, compressed) = (meta.shape, meta.chunk, meta.compressed)
  private lazy val grid = ChunkGrid.gridShape(shape, chunk)
  // the scanned sub-grid: pushed bounds clamped to the real grid
  private lazy val base = Array.tabulate(5)(d => math.max(0L, lo(d)))
  private lazy val ext = Array.tabulate(5)(d =>
    math.max(0L, math.min(grid(d) - 1, hi(d)) - base(d) + 1))

  override def readSchema(): StructType = aggOps match {
    case Some((groups, ops)) => StructType(
      groups.map(g => StructField(g, IntegerType, nullable = false)) ++
        ops.zipWithIndex.map {
          case (("count", _), i) => StructField(s"agg$i", LongType, nullable = false)
          case ((op, ax), i) => StructField(s"agg$i", IntegerType, nullable = true)
        })
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val bounds = (0 until 5).collect {
      case d if lo(d) > 0L || hi(d) != Long.MaxValue =>
        s"${Seq("t", "c", "z", "y", "x")(d)}=[${lo(d)}..${if (hi(d) == Long.MaxValue) "*" else hi(d)}]"
    }
    val agg = aggOps.map { case (groups, ops) =>
      val g = if (groups.isEmpty) "" else groups.mkString(" groupBy=", ",", "")
      " agg=" + ops.map {
        case ("count", _) => "count(*)"
        case (op, ax) => s"$op($ax)"
      }.mkString(",") + g
    }.getOrElse("")
    s"ZarrScan($root/$stack/$level${if (bounds.isEmpty) "" else bounds.mkString(" ", ",", "")} cols=${required.fieldNames.mkString(",")}$agg)"
  }

  private def ranged(total: Long): Array[InputPartition] = {
    if (total == 0L) return Array.empty
    val targetPartitions = math.min(total, 256L)
    val per = ChunkGrid.ceilDiv(total, targetPartitions)
    (0L until total by per)
      .map(s => ZarrInputPartition(s, math.min(s + per, total) - 1))
      .toArray
  }

  override def planInputPartitions(): Array[InputPartition] = aggOps match {
    // ungrouped pushed aggregate: one arithmetic row, one no-IO partition
    case Some((groups, _)) if groups.isEmpty => Array(ZarrInputPartition(0L, 0L))
    // grouped: range-partition the group space (arithmetic rows, no IO);
    // an empty sub-grid has no groups at all
    case Some((groups, _)) =>
      val axesN = Seq("t", "c", "z", "y", "x")
      if (ext.exists(_ == 0L)) Array.empty
      else ranged(groups.map(g => ext(axesN.indexOf(g))).product)
    case None => ranged(ext.product)
  }

  override def createReaderFactory(): PartitionReaderFactory = aggOps match {
    case Some((groups, ops)) => ZarrAggReaderFactory(groups, ops, base, ext)
    case None => ZarrReaderFactory(root, stack, level, shape, chunk, compressed,
      meta.dtype.itemSize, base, ext, required.fieldNames,
      graft.core.HadoopConf.snapshot())
  }
}

/** Emits pre-aggregated rows for a pushed COUNT/MIN/MAX: the chunk count
  * is the (per-group) sub-grid volume, coordinate extrema are its corner
  * coordinates. Grouped aggregates enumerate the grouped axes' coordinate
  * combinations for this partition's [first..last] slice of the group
  * space. No filesystem access at all. */
final case class ZarrAggReaderFactory(groups: Seq[String], ops: Seq[(String, String)],
                                      base: Array[Long], ext: Array[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val axes = Seq("t", "c", "z", "y", "x")
      private val gDims = groups.map(axes.indexOf).toArray
      private val gExt = gDims.map(ext(_))
      // per-group chunk count: product of the NON-grouped extents
      private val perGroup = (0 until 5)
        .filterNot(gDims.contains).map(ext(_)).product
      private val p = partition.asInstanceOf[ZarrInputPartition]
      private var cur = if (groups.isEmpty) -1L else p.firstChunk - 1
      private val lastG = if (groups.isEmpty) 0L else p.lastChunk
      override def next(): Boolean = { cur += 1; cur <= lastG }
      override def get(): InternalRow = {
        // row-major decompose of the group index over the grouped axes
        val combo = new Array[Long](gDims.length)
        var rem = cur
        var d = gDims.length - 1
        while (d >= 0) { combo(d) = base(gDims(d)) + rem % gExt(d); rem /= gExt(d); d -= 1 }
        val n = if (groups.isEmpty) ext.product else perGroup
        val aggVals = ops.map {
          case ("count", _) => n
          case (op, ax) if n == 0L => null // empty sub-grid: min/max of no rows
          case (op, ax) =>
            val dim = axes.indexOf(ax)
            val gi = gDims.indexOf(dim)
            if (gi >= 0) combo(gi).toInt // grouped axis: the group's value
            else if (op == "min") base(dim).toInt
            else (base(dim) + ext(dim) - 1).toInt
        }
        InternalRow.fromSeq(combo.map(_.toInt: Any).toIndexedSeq ++ aggVals)
      }
      override def close(): Unit = ()
    }
}

final case class ZarrReaderFactory(root: String, stack: String, level: Int,
                                   shape: Array[Long], chunk: Array[Int],
                                   compressed: Boolean, itemSize: Int,
                                   base: Array[Long], ext: Array[Long],
                                   cols: Array[String], hconf: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrInputPartition]
    new ZarrPartitionReader(root, stack, level, shape, chunk, compressed, itemSize,
      base, ext, cols, p.firstChunk, p.lastChunk, hconf)
  }
}

class ZarrPartitionReader(root: String, stack: String, level: Int,
                          shape: Array[Long], chunk: Array[Int], compressed: Boolean,
                          itemSize: Int, base: Array[Long], ext: Array[Long],
                          cols: Array[String], first: Long, last: Long,
                          hconf: Array[(String, String)])
    extends PartitionReader[InternalRow] {

  private lazy val fs =
    new Path(root).getFileSystem(graft.core.HadoopConf.restore(hconf))
  private val needData = cols.contains("data")
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
      if (!fs.exists(p)) new Array[Byte](want) // fill_value=0 chunk
      else {
        // IO errors propagate as they are; only the bytes' content is judged
        val in = fs.open(p)
        val buf = try {
          val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(0, b)
          b
        } finally in.close()
        try {
          val out = if (compressed) Blosc.decompress(buf) else buf
          require(out.length == want, s"${out.length} bytes, expected $want")
          out
        } catch {
          // a corrupt chunk in a 100 TB store must surface WITH ITS PATH —
          // a bare frame/length error from deep inside the codec is
          // undebuggable when a million tasks each read thousands of files
          case e: Exception => throw new IllegalStateException(
            s"corrupt zarr chunk at $p: ${e.getMessage}", e)
        }
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

  override def write(r: InternalRow): Unit = {
    val stack = r.getUTF8String(0).toString
    val level = r.getInt(1)
    val (t, c, z, y, x) = (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
    val data = r.getBinary(8)
    val codec = codecFor(stack, level)
    val dir = new Path(s"$root/$stack/$level/$t/$c/$z/$y")
    val tmp = new Path(dir, s".tmp-$x-${java.util.UUID.randomUUID}")
    val payload =
      if (codec.compressed) Blosc.compress(data, codec.dtype.itemSize, codec.clevel) else data
    val out = fs.create(tmp, true)
    try out.write(payload) finally out.close()
    if (!fs.rename(tmp, new Path(dir, x.toString))) fs.delete(tmp, false)
  }

  override def commit(): WriterCommitMessage = new WriterCommitMessage {}
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
