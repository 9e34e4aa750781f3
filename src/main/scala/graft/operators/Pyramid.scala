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
  *     factor (128 % 2 == 0; any other shape is first re-cut to a
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
  *
  * Fast path: a u16 chunk (the reference's dtype) at factor (2, 2, 2)
  * whose z, y and x are all even (every full chunk of the 128^3 / x2
  * config) goes to a direct loop, [[halve]], which reads each window's 8
  * voxels at fixed offsets from 4 rows with no window bounds and writes
  * sum >>> 3. Its bytes equal the general loop's (PyramidKernelSpec
  * checks both against a per-voxel oracle; PyramidPinSpec pins them).
  * u8, f32, odd shapes and other factors take the general loop: the
  * benchmark converts u16 only, so a fast path for them would be
  * unmeasured.
  */
object Pyramid {

  /** Little-endian reads in place: `F32LE.get(bytes, offset)` is a float,
    * `I32LE` an int (two u16 voxels). */
  private val F32LE = MethodHandles.byteArrayViewVarHandle(classOf[Array[Float]], ByteOrder.LITTLE_ENDIAN)
  private val I32LE = MethodHandles.byteArrayViewVarHandle(classOf[Array[Int]], ByteOrder.LITTLE_ENDIAN)

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
    if (dtype == PixelDtype.U16 && fz == 2 && fy == 2 && fx == 2 && sz % 2 == 0 && sy % 2 == 0 && sx % 2 == 0) {
      halve(data, sz, sy, sx, out)
      return (out, Array(shape(0), shape(1), oz, oy, ox))
    }
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

  /** [[downsampleBytes]] of u16 voxels at factor (2, 2, 2) on even z, y
    * and x, into `out`: every window is full, so output voxel x reads
    * voxels 2x and 2x + 1 of the four rows (z, y), (z, y + 1), (z + 1, y)
    * and (z + 1, y + 1), and writes their sum >>> 3 (= sum / 8). */
  private def halve(data: Array[Byte], sz: Int, sy: Int, sx: Int, out: Array[Byte]): Unit = {
    val row = sx * 2
    val plane = sy * row
    var o = 0
    var z = 0
    while (z < sz) {
      var y = 0
      while (y < sy) {
        val a = z * plane + y * row
        val b = a + row
        val c = a + plane
        val d = c + row
        var i = 0
        while (i < row) {
          val s = u16Pair(data, a + i) + u16Pair(data, b + i) + u16Pair(data, c + i) + u16Pair(data, d + i)
          out(o) = (s >>> 3).toByte
          out(o + 1) = (s >>> 11).toByte
          o += 2
          i += 4
        }
        y += 2
      }
      z += 2
    }
  }

  /** The sum of the two u16 voxels at byte `i`. */
  private def u16Pair(b: Array[Byte], i: Int): Int = {
    val v = (I32LE.get(b, i): Int)
    (v & 0xFFFF) + (v >>> 16)
  }

  /** The pyramid: levels 1..n-1 of `level0` as one chunk Dataset, plus
    * their volumes, in rounds of one fused body.
    *
    * A round's input grid G is the chunk shape when it is a multiple of
    * the factor on every axis. Otherwise the round first re-cuts its
    * input to G with [[Rechunk]] (one exchange), and G is the chunk
    * shape rounded up to a multiple of f^k, for the largest k up to the
    * levels left whose f^k fits the chunk, so that one re-cut serves as
    * many levels as it can without growing an axis to twice the chunk
    * ([[recutGrid]]).
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
    * dense whole-array oracle. Memory per task is one G chunk: the chunk
    * itself, or after a re-cut less than twice the chunk per axis (40^3
    * in 5^3 chunks with 4 levels re-cuts once, to 8^3; a 33^3 chunk with
    * 9 levels left to 64^3, not 512^3).
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
        val g = if ((0 until 3).forall(a => chunk(a) % factorZyx(a) == 0)) chunk
                else recutGrid(chunk, factorZyx, left, v.dtype.itemSize)
        val h = math.min(left, depth(g, factorZyx))
        val src = if (g.sameElements(chunk)) in else Rechunk(in, v, g)
        val (vols, out) = fused(spark, src, v, g, h + 1, factorZyx)
        ((vols, out), (out.where($"level" === vols.last.level), vols.last, left - h))
      }
    }
    (rounds.flatMap(_._1),
      rounds.map(_._2).reduceOption(_ union _).getOrElse(spark.emptyDataset[ZarrChunk]))
  }

  /** The grid a round re-cuts `chunk` to when it is not a multiple of
    * the factor: every axis rounded up to a multiple of f^k, for the
    * largest k <= `left` with f^k <= chunk on every axis whose f > 1 and
    * whose grid fits [[Volume.MaxChunkBytes]] (k = 1 when none does). So
    * one re-cut serves as many of the levels left as the chunk allows,
    * and an axis with k >= 2 stays under twice the chunk: the re-cut
    * changes a task's memory by a bounded factor, and its parallelism too. */
  private[operators] def recutGrid(chunk: Array[Int], factorZyx: Array[Int], left: Int,
                                   itemSize: Int): Array[Int] = {
    def pow(a: Int, k: Int) = BigInt(factorZyx(a)).pow(k)
    def grid(k: Int): Array[BigInt] = Array.tabulate(3) { a =>
      val m = pow(a, k)
      (chunk(a) + m - 1) / m * m
    }
    (left to 2 by -1).iterator
      .filter(k => (0 until 3).forall(a => factorZyx(a) == 1 || pow(a, k) <= chunk(a)))
      .map(grid)
      .find(_.product * itemSize <= Volume.MaxChunkBytes)
      .getOrElse(grid(1)).map(_.toInt)
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
