package graft.sources.czi

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ChunkGrid, Volume}
import graft.io.{GridScan, GridScanBuilder}

/** CZI (ZISRAW) DataSource V2: `spark.read.format("czi")` — the scan that
  * [[CziSource.scan]] exposes as an API, as a first-class Spark source
  * (reference S2/S3, `utils.py:284-395,462-526`).
  *
  * Options: `path` (the .czi file), `stack` (defaults to the file name),
  * `chunk_z`/`chunk_y`/`chunk_x` (default 128 each). Emits the same chunk
  * rows as the zarr connector (`stack, level, t, c, z, y, x, shape,
  * data`), so a CZI→Zarr conversion is literally
  * `spark.read.format("czi").load()...write.format("zarr")`.
  *
  * The pushdown is the zarr connector's, from one shared file
  * (`graft/io/GridScan.scala`):
  *   - '''partition pruning''' — the driver parses only the subblock
  *     directory (KBs), once per table; one InputPartition per
  *     (timepoint, channel, z-slab, tile run) ([[CziSource.tileRuns]]),
  *     and coordinate filters on `t`/`c`/`z` (any integral literal type;
  *     an `In` by its envelope) shrink the planned set before a task
  *     launches;
  *   - '''column pruning''' — a projection without `data` plans the same
  *     partitions but its readers emit rows from chunk-grid arithmetic
  *     alone: no subblock is read, the file is never opened;
  *   - '''aggregate pushdown''' — COUNT(*)/MIN/MAX over the coordinate
  *     columns, ungrouped or GROUP BY coordinate axes, are answered at
  *     planning time from the pruned grid bounds with no-IO tasks.
  */
class CziDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "czi"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.io.zarr.ZarrDataSource.chunkSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CziTable(properties.asScala.toMap)
}

/** `maxTaskBytes` bounds a scan task's tile run ([[CziSource.tileRuns]]);
  * the source always uses [[CziSource.MaxTaskBytes]]. */
class CziTable private[czi] (props: Map[String, String], maxTaskBytes: Long)
    extends Table with SupportsRead {
  def this(props: Map[String, String]) = this(props, CziSource.MaxTaskBytes)

  // resolveInput: JPEG-XR files redirect to their transcode sidecar (or
  // fail here, at table resolution, with the documented remediation); its
  // directory parse is the table's only one
  private val (path, idx) = CziSource.resolveInput(
    props.getOrElse("path", sys.error("czi: 'path' option required")))
  private val stack =
    props.getOrElse("stack", new Path(path).getName.stripSuffix(".czi"))
  private val chunkZyx = Array("chunk_z", "chunk_y", "chunk_x").map { k =>
    val v = props.getOrElse(k, "128")
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"czi: option '$k' must be a positive integer, got '$v'"))
  }

  override def name(): String = s"czi:$path"
  override def schema(): StructType = graft.io.zarr.ZarrDataSource.chunkSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CziScanBuilder(path, CziSource.volume(idx, stack, chunkZyx), idx, maxTaskBytes)
}

final case class CziInputPartition(tIdx: Int, cIdx: Int, slab: Int, run: Int) extends InputPartition

/** The shared grid pushdown ([[graft.io.GridScanBuilder]]) with t, c and z
  * prunable: rows carry t = timepoint, c = channel and z = slab index —
  * exactly the partition key — so a t/c/z range is absorbed at partition
  * granularity. A y/x filter stays a residual (a task reads its whole
  * run anyway). */
class CziScanBuilder private[czi] (path: String, vol: Volume, idx: CziFormat.CziIndex,
                                   maxTaskBytes: Long)
    extends GridScanBuilder(Set("t", "c", "z")) {
  override def build(): Scan = new CziScan(path, vol, idx, maxTaskBytes, lo, hi, required, aggOps)
}

class CziScan(path: String, vol: Volume, idx: CziFormat.CziIndex, maxTaskBytes: Long,
              lo: Array[Long], hi: Array[Long],
              required: StructType, aggOps: Option[GridScan.AggOps])
    extends GridScan("CziScan", path, lo, hi, required, aggOps) {

  // (t, c, z-slab, y-tile, x-tile); y/x are never bounded, so the
  // sub-grid is the clamped (t, c, slab) selection over the full tile grid
  override protected lazy val grid: Array[Long] = ChunkGrid.gridShape(vol.shape, vol.chunk)
  private lazy val runs = CziSource.tileRuns(vol, maxTaskBytes)

  // one partition per (timepoint, channel, slab, tile run)
  override protected def planDataPartitions(): Array[InputPartition] = {
    val parts = for {
      t <- base(0) until base(0) + ext(0)
      c <- base(1) until base(1) + ext(1)
      slab <- base(2) until base(2) + ext(2)
      run <- 0 until runs.count
    } yield CziInputPartition(t.toInt, c.toInt, slab.toInt, run): InputPartition
    parts.toArray
  }

  override protected def dataReaderFactory(): PartitionReaderFactory =
    CziReaderFactory(path, vol.stack, vol.shape, vol.chunk,
      idx.origin, idx.entries.toArray, vol.dtype.itemSize, runs, required.fieldNames,
      graft.core.HadoopConf.snapshot())
}

final case class CziReaderFactory(path: String, stack: String,
    shape: Array[Long], chunk: Array[Int], origin: Array[Int],
    entries: Array[CziFormat.SubBlockEntry], itemSize: Int, runs: CziSource.TileRuns,
    cols: Array[String], hconf: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CziInputPartition]
    new CziPartitionReader(this, p.tIdx, p.cIdx, p.slab, runs(p.run))
  }
}

/** Reads one tile run of one (timepoint, channel, slab): a task reads its
  * whole run through [[CziSource.slabChunks]], the kernel shared with
  * [[CziSource.scan]], and emits one row per tile.
  * When the projection pruned `data` away, every remaining column is
  * chunk-grid arithmetic: the rows are synthesized without opening the
  * file at all (parity with the zarr connector's pruned scan). */
class CziPartitionReader(f: CziReaderFactory, tIdx: Int, cIdx: Int, slab: Int, tiles: Range)
    extends PartitionReader[InternalRow] {

  private val needData = f.cols.contains("data")

  private def row(ty: Int, tx: Int, shape5: => Array[Int], data: => Array[Byte]): InternalRow =
    InternalRow.fromSeq(f.cols.toIndexedSeq.map {
      case "stack" => UTF8String.fromString(f.stack)
      case "level" => 0
      case "t" => tIdx
      case "c" => cIdx
      case "z" => slab
      case "y" => ty
      case "x" => tx
      case "shape" => ArrayData.toArrayData(shape5)
      case "data" => data
    })

  private val rows: Iterator[InternalRow] =
    if (needData) {
      val conf = graft.core.HadoopConf.restore(f.hconf)
      val p = new Path(f.path)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        CziSource.slabChunks(in, f.entries, f.shape, f.chunk, f.origin,
            f.itemSize, tIdx, cIdx, slab, tiles)
          .map { case (ty, tx, shape5, out) => row(ty, tx, shape5, out) }
          .toVector.iterator // materialize before the stream closes
      } finally in.close()
    } else {
      // no pixel bytes requested: coordinates and clamped shapes are pure
      // arithmetic — zero IO
      val gridX = ChunkGrid.ceilDiv(f.shape(4), f.chunk(4)).toInt
      tiles.iterator.map { i =>
        val (ty, tx) = (i / gridX, i % gridX)
        row(ty, tx,
          ChunkGrid.clampedChunkShape(Array[Long](tIdx, cIdx, slab, ty, tx), f.shape, f.chunk),
          sys.error("data column pruned — never evaluated"))
      }
    }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
