package graft.operators

import java.lang.invoke.MethodHandles
import java.nio.ByteOrder

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{PixelDtype, Volume, ZarrChunk}

/** Windowed-mean image pyramid (reference operator A1,
  * `czi_to_zarr.py:410-454` / xarray_multiscale windowed_mean).
  *
  * Spark-first design (SURVEY.md §2 A1 option (a)):
  *
  *  1. '''map side, zero shuffle''' — every input chunk is downsampled
  *     locally: the input chunk shape is an integer multiple of the
  *     factor (128 % 2 == 0; any other shape is first re-cut to the next
  *     multiple), so no 2x2x2 window ever crosses a chunk boundary.
  *     Edge windows at the array boundary are partial; the divisor is the
  *     actual window population (ceil semantics, `czi_to_zarr.py:185-187`).
  *  2. '''one shuffle for the whole pyramid''' — downsampled pieces
  *     (2x2x2 = 8 of 64^3 per level-1 chunk of 128^3) assemble into
  *     output chunks keyed by (level, chunk coords). The shuffle moves
  *     only downsampled data, ~14.5% of the input bytes for every level
  *     together, partitioned by chunk key with no skew (uniform grid);
  *     the pieces are [[Regrid]] pieces and [[Regrid.assemble]] is the
  *     reduce side. [[build]] is the entry point and runs every
  *     chunk/factor config in rounds of this one fused body.
  *
  * Dtype preservation (`preserve_dtype=True`, `czi_to_zarr.py:450`):
  * the one kernel, [[downsampleBytes]], reads and writes each chunk's
  * little-endian bytes in the chunk's own dtype, u8, u16 or f32, with
  * one window loop and no widened copy. For u8/u16, means accumulate
  * masked pixels in Long and truncate back via integer floor division —
  * exact, and identical to numpy's float64-mean + astype for
  * power-of-two window populations (every population is a product of
  * values in {1..factor}, so for factor 2 it is always a power of two);
  * JVM signed Byte/Short never touches the math (SURVEY.md §7.5 #2).
  * For f32, each float is read in place and summed in Double in z, y, x
  * order; the mean is cast to Float and written as its raw bits.
  */
object Pyramid {

  /** Reads a little-endian float in place: `F32LE.get(bytes, offset)`. */
  private val F32LE = MethodHandles.byteArrayViewVarHandle(classOf[Array[Float]], ByteOrder.LITTLE_ENDIAN)

  /** Downsample one chunk of little-endian `dtype` pixels by
    * `factorZyx` with windowed mean, straight from and to its bytes.
    * Returns (bytes, shape) of the piece; pure function (unit-tested
    * against analytic means, FIXTURES.md §1.5). It works on the bytes
    * because a widened copy of a 128^3 chunk is 8 MiB: a humongous G1
    * allocation per chunk, whose churn can keep G1 marking concurrently
    * for the rest of a conversion. */
  def downsampleBytes(data: Array[Byte], shape: Array[Int], factorZyx: Array[Int],
                      dtype: PixelDtype): (Array[Byte], Array[Int]) = {
    require(shape(0) == 1 && shape(1) == 1,
      "t/c must be singleton (reference assumes 1 channel per stack, utils.py:355)")
    val itemSize = dtype.itemSize
    val (fz, fy, fx) = (factorZyx(0), factorZyx(1), factorZyx(2))
    val (sz, sy, sx) = (shape(2), shape(3), shape(4))
    val oz = ((sz + fz - 1) / fz)
    val oy = ((sy + fy - 1) / fy)
    val ox = ((sx + fx - 1) / fx)
    val out = new Array[Byte](oz * oy * ox * itemSize)
    var o = 0
    var zo = 0
    while (zo < oz) {
      val z1 = zo * fz
      val z2 = math.min(z1 + fz, sz)
      var yo = 0
      while (yo < oy) {
        val y1 = yo * fy
        val y2 = math.min(y1 + fy, sy)
        var xo = 0
        while (xo < ox) {
          val x1 = xo * fx
          val x2 = math.min(x1 + fx, sx)
          var sum = 0L
          var fsum = 0.0
          var z = z1
          while (z < z2) {
            var y = y1
            while (y < y2) {
              // one window row: bytes [x1, x2) of row (z, y)
              val row = (z * sy + y) * sx
              var i = (row + x1) * itemSize
              val end = (row + x2) * itemSize
              if (itemSize == 2) while (i < end) {
                sum += (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8)
                i += 2
              }
              else if (itemSize == 1) while (i < end) {
                sum += data(i) & 0xFF
                i += 1
              }
              else while (i < end) {
                fsum += (F32LE.get(data, i): Float)
                i += 4
              }
              y += 1
            }
            z += 1
          }
          val n = (z2 - z1) * (y2 - y1) * (x2 - x1)
          val v = if (itemSize == 4) java.lang.Float.floatToRawIntBits((fsum / n).toFloat) else (sum / n).toInt
          out(o) = v.toByte
          if (itemSize >= 2) out(o + 1) = (v >>> 8).toByte
          if (itemSize == 4) {
            out(o + 2) = (v >>> 16).toByte
            out(o + 3) = (v >>> 24).toByte
          }
          o += itemSize
          xo += 1
        }
        yo += 1
      }
      zo += 1
    }
    (out, Array(shape(0), shape(1), oz, oy, ox))
  }

  /** The pyramid: levels 1..n-1 of `level0` as one chunk Dataset, plus
    * their volumes, in rounds of one fused body.
    *
    * A round's input grid G is the chunk shape, rounded up to a multiple
    * of the factor on each axis where it is not one already (then the
    * round first re-cuts its input to G with [[Rechunk]], one exchange).
    * The round computes h = min(levels left, depth(G)) levels with one
    * [[fused]] call: ONE map pass emits each level's pieces chunk-locally
    * and ONE shuffle (keyed by (level, out-chunk)) assembles them. The
    * next round starts from this round's top level. Every round unions
    * into one plan, where each round's exchange runs once and is reused
    * by the round above it; nothing is cached.
    *
    * Validity: level-(k+1) windows must never cross level-k piece
    * boundaries. Pieces of one G chunk have size G/f^k and windows start
    * at multiples of f, so the chunk-local recursion equals the
    * assemble-then-downsample sequence for the first depth(G) levels,
    * depth(G) being the largest k with G % f^k == 0 on every axis. The reference's 128^3 / x2 config
    * (depth 7) and z1's 32^3 / 4 levels are one round with no re-cut;
    * PyramidFusedSpec and PyramidUnalignedSpec pin every level against a
    * dense whole-array oracle. Memory per task is one G chunk, at most
    * chunk + f - 1 per axis.
    *
    * Scale: the exchange carries sum over k of 1/f^3k of the input
    * (~14.5% for f=2) in one stage — at 100 TB that is one 14.5 TB
    * shuffle instead of three 12.5/1.6/0.2 TB stages with a persist
    * barrier between each; map output is grid-uniform, no skew. */
  def build(spark: SparkSession, level0: Dataset[ZarrChunk], vol: Volume,
            nLevels: Int, factorZyx: Array[Int] = Array(2, 2, 2)):
      (Seq[Volume], Dataset[ZarrChunk]) = {
    import spark.implicits._
    val rounds = Seq.unfold((level0, vol, nLevels - 1)) { case (in, v, left) =>
      Option.when(left > 0) {
        val chunk = v.chunk.drop(2)
        val g = Array.tabulate(3)(a => (chunk(a) + factorZyx(a) - 1) / factorZyx(a) * factorZyx(a))
        val h = math.min(left, depth(g, factorZyx))
        val src = if (g.sameElements(chunk)) in else Rechunk(in, v, g)
        val (vols, out) = fused(spark, src, v, g, h + 1, factorZyx)
        ((vols, out), (out.where($"level" === vols.last.level), vols.last, left - h))
      }
    }
    (rounds.flatMap(_._1),
      rounds.map(_._2).reduceOption(_ union _).getOrElse(spark.emptyDataset[ZarrChunk]))
  }

  /** The largest k with g % f^k == 0 on every axis; an axis with f = 1
    * sets no limit. */
  private def depth(g: Array[Int], factorZyx: Array[Int]): Int =
    (0 until 3).filter(factorZyx(_) > 1).map { a =>
      val f = factorZyx(a).toLong
      Iterator.iterate(f)(_ * f).takeWhile(g(a) % _ == 0).size
    }.minOption.getOrElse(Int.MaxValue)

  /** The fused body of [[build]]: `nLevels - 1` recursive chunk-local
    * halvings of `in`, whose chunks lie on the z/y/x `grid` (every
    * `grid` axis a multiple of f^(nLevels-1)), on the map side; one
    * [[Regrid.assemble]] into `vol`'s chunk shape, whose output index is
    * the level (relative to `vol`). */
  private def fused(spark: SparkSession, in: Dataset[ZarrChunk], vol: Volume, grid: Array[Int],
                    nLevels: Int, factorZyx: Array[Int]): (Seq[Volume], Dataset[ZarrChunk]) = {
    import spark.implicits._
    val outs = Iterator.iterate(vol)(_.downsampled(factorZyx)).take(nLevels).toSeq
    val chunk = vol.chunk
    val dtype = vol.dtype

    // map: recursive chunk-local halvings; piece k's voxel origin is the
    // input chunk's origin divided by f^k (exact by the depth bound), and
    // Regrid.cut splits it across the output chunks it overlaps
    val pieces = in.flatMap { ck =>
      var data = ck.data
      var shape = ck.shape
      val at = Array(ck.z.toLong * grid(0), ck.y.toLong * grid(1), ck.x.toLong * grid(2))
      (1 until nLevels).iterator.flatMap { lvl =>
        val (b, ps) = downsampleBytes(data, shape, factorZyx, dtype)
        data = b; shape = ps
        (0 until 3).foreach(a => at(a) /= factorZyx(a))
        Regrid.cut(lvl, ck.t, ck.c, b, at.clone(), ps.drop(2), chunk.drop(2), dtype.itemSize)
      }
    }
    (outs.tail, Regrid.assemble(pieces, outs))
  }
}
