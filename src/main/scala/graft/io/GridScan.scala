package graft.io

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.core.ChunkGrid
import graft.io.zarr.ZarrDataSource

/** The chunk-grid pushdown shared by the array connectors
  * (`format("zarr")` and `format("czi")`).
  *
  * A stack is a (t, c, z, y, x) chunk grid whose layout is pure
  * arithmetic, so a scan over it can be pruned and aggregated without
  * touching a byte:
  *   - '''coordinate pruning''' — `=`/`>`/`>=`/`<`/`<=` on a prunable
  *     axis (any integral literal type) become inclusive per-axis bounds
  *     that shrink the planned partitions before a task launches; an `In`
  *     prunes to its value envelope and stays a residual;
  *   - '''column pruning''' — the required columns reach the reader, so a
  *     projection without `data` never opens a file;
  *   - '''aggregate pushdown''' — COUNT(*)/MIN/MAX over coordinate
  *     columns, ungrouped or GROUP BY coordinate axes, are answered from
  *     the pruned sub-grid `(base, ext)` by [[GridAggReaderFactory]]
  *     with no IO; group enumeration is range-partitioned so a
  *     billion-group axis stays distributed.
  *
  * A connector supplies its grid shape, its byte-reading partitions and
  * reader, and the axes whose bounds it can honour exactly.
  */
object GridScan {
  val axes: Seq[String] = Seq("t", "c", "z", "y", "x")

  /** A pushed aggregate: grouping axes plus ops like ("count", "") or
    * ("min", "z"); no grouping axes is the ungrouped single-row case. */
  type AggOps = (Seq[String], Seq[(String, String)])

  // long/short/byte literals and casts must prune exactly like int
  // literals — a silent fall-through to "plan everything" is fragile
  def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** `total` rows split into at most 256 inclusive ranges. */
  def ranged(total: Long): Array[InputPartition] = {
    if (total == 0L) return Array.empty
    val per = ChunkGrid.ceilDiv(total, math.min(total, 256L))
    (0L until total by per)
      .map(s => GridRange(s, math.min(s + per, total) - 1): InputPartition)
      .toArray
  }
}

/** Inclusive row range of a grid scan: chunks of the pruned sub-grid, or
  * groups of a pushed aggregate. */
final case class GridRange(first: Long, last: Long) extends InputPartition

/** Absorbs coordinate filters on `prunable` axes, prunes columns and
  * translates COUNT/MIN/MAX; a connector's builder adds only `build()`. */
abstract class GridScanBuilder(prunable: Set[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
  import GridScan.{asLong, axes, AggOps}

  // per-axis inclusive coordinate bounds, refined by each accepted filter
  protected val lo: Array[Long] = Array.fill(5)(0L)
  protected val hi: Array[Long] = Array.fill(5)(Long.MaxValue)
  protected var required: StructType = ZarrDataSource.chunkSchema
  protected var aggOps: Option[AggOps] = None
  private var pushed = Array.empty[Filter]

  private def refine(a: String, l: Long, h: Long): Unit = {
    val d = axes.indexOf(a)
    lo(d) = math.max(lo(d), l)
    hi(d) = math.min(hi(d), h)
  }

  /** A range on a prunable axis is fully absorbed: the rows of the
    * pruned sub-grid satisfy it exactly, so Spark need not re-evaluate
    * it. Anything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot { f =>
      val accepted = f match {
        case EqualTo(a, v) if prunable(a) =>
          asLong(v).exists { x => refine(a, x, x); true }
        case GreaterThan(a, v) if prunable(a) =>
          asLong(v).exists { x => refine(a, x + 1, Long.MaxValue); true }
        case GreaterThanOrEqual(a, v) if prunable(a) =>
          asLong(v).exists { x => refine(a, x, Long.MaxValue); true }
        case LessThan(a, v) if prunable(a) =>
          asLong(v).exists { x => refine(a, Long.MinValue, x - 1); true }
        case LessThanOrEqual(a, v) if prunable(a) =>
          asLong(v).exists { x => refine(a, Long.MinValue, x); true }
        case In(a, vs) if prunable(a) && vs.nonEmpty && vs.forall(asLong(_).isDefined) =>
          // prune to the value envelope but keep the filter residual —
          // the sub-grid is a superset of an In's point set
          val xs = vs.map(asLong(_).get)
          refine(a, xs.min, xs.max)
          false
        case _ => false
      }
      if (accepted) pushed :+= f
      accepted
    }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order; an empty projection (count(*)) keeps
    // nothing and the reader emits empty rows
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(ZarrDataSource.chunkSchema.filter(f => keep.contains(f.name)))
  }

  /** Only exact cases are accepted: every aggregate and every grouping
    * column translatable, on distinct coordinate axes. Spark offers an
    * aggregate only when every filter was absorbed, so the bounds are
    * exact (an `In`'s envelope is a residual and blocks the offer). */
  private def translate(agg: Aggregation): Option[AggOps] = {
    def ax(e: Expression): Option[String] = e match {
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
}

/** A scan over the pruned sub-grid: `base` is its first chunk coordinate
  * per axis, `ext` its extent (the pushed bounds clamped to `grid`). A
  * pushed aggregate plans and reads here; a data scan defers to the
  * connector. `kind` and `target` name the scan in EXPLAIN. */
abstract class GridScan(kind: String, target: String, lo: Array[Long], hi: Array[Long],
                        required: StructType, aggOps: Option[GridScan.AggOps])
    extends Scan with Batch {
  import GridScan.axes

  /** Chunk-grid shape (t, c, z, y, x); evaluated at planning. */
  protected def grid: Array[Long]
  protected def planDataPartitions(): Array[InputPartition]
  protected def dataReaderFactory(): PartitionReaderFactory

  protected lazy val base: Array[Long] = Array.tabulate(5)(d => math.max(0L, lo(d)))
  protected lazy val ext: Array[Long] = Array.tabulate(5)(d =>
    math.max(0L, math.min(grid(d) - 1, hi(d)) - base(d) + 1))

  override def readSchema(): StructType = aggOps match {
    case Some((groups, ops)) => StructType(
      groups.map(g => StructField(g, IntegerType, nullable = false)) ++
        ops.zipWithIndex.map {
          case (("count", _), i) => StructField(s"agg$i", LongType, nullable = false)
          case (_, i) => StructField(s"agg$i", IntegerType, nullable = true)
        })
    case None => required
  }

  override def toBatch: Batch = this

  override def description(): String = {
    val bounds = (0 until 5).collect {
      case d if lo(d) > 0L || hi(d) != Long.MaxValue =>
        s"${axes(d)}=[${lo(d)}..${if (hi(d) == Long.MaxValue) "*" else hi(d)}]"
    }
    val agg = aggOps.map { case (groups, ops) =>
      val g = if (groups.isEmpty) "" else groups.mkString(" groupBy=", ",", "")
      " agg=" + ops.map {
        case ("count", _) => "count(*)"
        case (op, ax) => s"$op($ax)"
      }.mkString(",") + g
    }.getOrElse("")
    s"$kind($target${if (bounds.isEmpty) "" else bounds.mkString(" ", ",", "")} cols=${required.fieldNames.mkString(",")}$agg)"
  }

  override def planInputPartitions(): Array[InputPartition] = aggOps match {
    // ungrouped pushed aggregate: one arithmetic row, one no-IO partition
    case Some((groups, _)) if groups.isEmpty => Array(GridRange(0L, 0L))
    // grouped: range-partition the group space; an empty sub-grid has no
    // groups at all
    case Some((groups, _)) =>
      if (ext.contains(0L)) Array.empty
      else GridScan.ranged(groups.map(g => ext(axes.indexOf(g))).product)
    case None => planDataPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = aggOps match {
    case Some((groups, ops)) => GridAggReaderFactory(groups, ops, base, ext)
    case None => dataReaderFactory()
  }
}

/** Emits pre-aggregated rows for a pushed COUNT/MIN/MAX: the chunk count
  * is the (per-group) sub-grid volume, coordinate extrema are its corner
  * coordinates (or the group's own value for a grouped axis). Grouped
  * aggregates enumerate the grouped axes' coordinate combinations for
  * this partition's slice of the group space. No filesystem access. */
final case class GridAggReaderFactory(groups: Seq[String], ops: Seq[(String, String)],
                                      base: Array[Long], ext: Array[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val gDims = groups.map(GridScan.axes.indexOf).toArray
      private val gExt = gDims.map(ext(_))
      // per-group chunk count: product of the NON-grouped extents
      private val n =
        if (groups.isEmpty) ext.product
        else (0 until 5).filterNot(gDims.contains).map(ext(_)).product
      private val p = partition.asInstanceOf[GridRange]
      private var cur = p.first - 1
      override def next(): Boolean = { cur += 1; cur <= p.last }
      override def get(): InternalRow = {
        // row-major decompose of the group index over the grouped axes
        val combo = new Array[Long](gDims.length)
        var rem = cur
        var d = gDims.length - 1
        while (d >= 0) { combo(d) = base(gDims(d)) + rem % gExt(d); rem /= gExt(d); d -= 1 }
        val aggVals = ops.map {
          case ("count", _) => n
          case _ if n == 0L => null // empty sub-grid: min/max of no rows
          case (op, ax) =>
            val dim = GridScan.axes.indexOf(ax)
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
