package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{ChunkGrid, PixelCodec, Volume, ZarrChunk}

/** Windowed-mean image pyramid (reference operator A1,
  * `czi_to_zarr.py:410-454` / xarray_multiscale windowed_mean).
  *
  * Spark-first design (SURVEY.md §2 A1 option (a)):
  *
  *  1. '''map side, zero shuffle''' — every input chunk is downsampled
  *     locally: the chunk shape is an integer multiple of the factor
  *     (128 % 2 == 0), so no 2x2x2 window ever crosses a chunk boundary.
  *     Edge windows at the array boundary are partial; the divisor is the
  *     actual window population (ceil semantics, `czi_to_zarr.py:185-187`).
  *  2. '''one shuffle for the whole pyramid''' — downsampled pieces
  *     (2x2x2 = 8 of 64^3 per level-1 chunk of 128^3) assemble into
  *     output chunks keyed by (level, chunk coords). The shuffle moves
  *     only downsampled data, ~14.5% of the input bytes for every level
  *     together, partitioned by chunk key with no skew (uniform grid);
  *     the pieces are [[Regrid]] pieces and [[Regrid.assemble]] is the
  *     reduce side. [[build]] is the entry point; the per-level chain
  *     ([[levels]]) is its fallback for chunk shapes the fused recursion
  *     cannot serve.
  *
  * Dtype preservation (`preserve_dtype=True`, `czi_to_zarr.py:450`):
  * means accumulate in Long and truncate back to uint16 via integer floor
  * division — exact, and identical to numpy's float64-mean + astype for
  * power-of-two window populations (every population is a product of
  * values in {1..factor}, so for factor 2 it is always a power of two).
  * Pixels stay masked Ints end-to-end; JVM signed Short never touches the
  * math (SURVEY.md §7.5 #2).
  */
object Pyramid {

  /** Downsample one chunk's pixels by `factorZyx` with windowed mean.
    * Returns (pixels, shape) of the piece; pure function (unit-tested
    * against analytic means, FIXTURES.md §1.5). */
  def downsampleChunk(pixels: Array[Int], shape: Array[Int], factorZyx: Array[Int]): (Array[Int], Array[Int]) = {
    require(shape(0) == 1 && shape(1) == 1,
      "t/c must be singleton (reference assumes 1 channel per stack, utils.py:355)")
    val (fz, fy, fx) = (factorZyx(0), factorZyx(1), factorZyx(2))
    val (sz, sy, sx) = (shape(2), shape(3), shape(4))
    val oz = ((sz + fz - 1) / fz)
    val oy = ((sy + fy - 1) / fy)
    val ox = ((sx + fx - 1) / fx)
    val out = new Array[Int](shape(0) * shape(1) * oz * oy * ox)
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
          var n = 0
          var z = z1
          while (z < z2) {
            val zBase = z * sy * sx
            var y = y1
            while (y < y2) {
              val yBase = zBase + y * sx
              var x = x1
              while (x < x2) {
                sum += pixels(yBase + x)
                n += 1
                x += 1
              }
              y += 1
            }
            z += 1
          }
          out(zo * oy * ox + yo * ox + xo) = (sum / n).toInt
          xo += 1
        }
        yo += 1
      }
      zo += 1
    }
    (out, Array(shape(0), shape(1), oz, oy, ox))
  }

  /** Float32 kernel: double accumulation, cast back to float
    * (numpy windowed_mean + astype(float32) semantics). */
  def downsampleChunkF32(pixels: Array[Float], shape: Array[Int], factorZyx: Array[Int]): (Array[Float], Array[Int]) = {
    require(shape(0) == 1 && shape(1) == 1, "t/c must be singleton")
    val (fz, fy, fx) = (factorZyx(0), factorZyx(1), factorZyx(2))
    val (sz, sy, sx) = (shape(2), shape(3), shape(4))
    val oz = (sz + fz - 1) / fz
    val oy = (sy + fy - 1) / fy
    val ox = (sx + fx - 1) / fx
    val out = new Array[Float](oz * oy * ox)
    var zo = 0
    while (zo < oz) {
      var yo = 0
      while (yo < oy) {
        var xo = 0
        while (xo < ox) {
          var sum = 0.0
          var n = 0
          var z = zo * fz
          while (z < math.min(zo * fz + fz, sz)) {
            var y = yo * fy
            while (y < math.min(yo * fy + fy, sy)) {
              var x = xo * fx
              while (x < math.min(xo * fx + fx, sx)) {
                sum += pixels(z * sy * sx + y * sx + x)
                n += 1
                x += 1
              }
              y += 1
            }
            z += 1
          }
          out(zo * oy * ox + yo * ox + xo) = (sum / n).toFloat
          xo += 1
        }
        yo += 1
      }
      zo += 1
    }
    (out, Array(shape(0), shape(1), oz, oy, ox))
  }

  /** Dtype-dispatching byte-level kernel. */
  def downsampleBytes(data: Array[Byte], shape: Array[Int], factorZyx: Array[Int],
                      dtype: graft.core.PixelDtype): (Array[Byte], Array[Int]) = {
    import graft.core.PixelDtype._
    dtype match {
      case F32 =>
        val (px, ps) = downsampleChunkF32(PixelCodec.f32ToFloats(data), shape, factorZyx)
        (PixelCodec.f32ToBytes(px), ps)
      case d =>
        val (px, ps) = downsampleChunk(PixelCodec.toInts(data, d), shape, factorZyx)
        (PixelCodec.fromInts(px, d), ps)
    }
  }

  /** One pyramid halving: level-k chunks -> level-(k+1) chunks.
    *
    * Dispatches on alignment: when chunk % factor == 0 on the spatial
    * axes (always true for the reference's 128^3 / x2 config), windows
    * are chunk-local and the halving is the fused pyramid with 2 levels;
    * otherwise [[downsampleLevelUnaligned]] handles windows that span
    * chunks.
    */
  private[operators] def downsampleLevel(spark: SparkSession, in: Dataset[ZarrChunk], vol: Volume,
                      factorZyx: Array[Int] = Array(2, 2, 2)): (Volume, Dataset[ZarrChunk]) =
    if (aligned(vol, factorZyx, 1)) {
      val (vols, out) = fused(spark, in, vol, 2, factorZyx)
      (vols.head, out)
    } else downsampleLevelUnaligned(spark, in, vol, factorZyx)

  /** General (unaligned) halving: windows may span chunk boundaries, so
    * each input chunk emits per-output-chunk PARTIAL window sums/counts
    * (at most 2^3 = 8 region pieces per chunk, compact array payloads);
    * the assembly aggregate merges partials voxel-wise and divides once.
    *
    * Costs one shuffle of (sum, count) pairs per output voxel — ~2x the
    * aligned path's bytes — which is why alignment stays the fast path;
    * this exists so arbitrary chunk/factor configs remain correct.
    * Sums are doubles: exact for uint sums far beyond any window size,
    * and the float path divides in double anyway.
    */
  private[operators] def downsampleLevelUnaligned(spark: SparkSession, in: Dataset[ZarrChunk], vol: Volume,
                               factorZyx: Array[Int]): (Volume, Dataset[ZarrChunk]) = {
    import spark.implicits._
    val outVol = vol.downsampled(factorZyx)
    val outShape = outVol.shape
    val outChunk = outVol.chunk
    val chunk = vol.chunk
    val dtype = vol.dtype
    val (fz, fy, fx) = (factorZyx(0), factorZyx(1), factorZyx(2))
    val stack = outVol.stack
    val level = outVol.level

    // map: per input chunk, per intersecting output chunk, accumulate
    // partial (sum, count) per output voxel of the overlap region
    val pieces = in.flatMap { ck =>
      val px: Array[Double] = dtype match {
        case graft.core.PixelDtype.F32 => PixelCodec.f32ToFloats(ck.data).map(_.toDouble)
        case d => PixelCodec.toInts(ck.data, d).map(_.toDouble)
      }
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      val (vz0, vy0, vx0) = (ck.z.toLong * chunk(2), ck.y.toLong * chunk(3), ck.x.toLong * chunk(4))
      // output voxel extent touched by this chunk
      val (oz0, oy0, ox0) = (vz0 / fz, vy0 / fy, vx0 / fx)
      val ozN = (vz0 + sz - 1) / fz - oz0 + 1
      val oyN = (vy0 + sy - 1) / fy - oy0 + 1
      val oxN = (vx0 + sx - 1) / fx - ox0 + 1
      // output chunks intersecting that extent
      for {
        gz <- (oz0 / outChunk(2)) to ((oz0 + ozN - 1) / outChunk(2))
        gy <- (oy0 / outChunk(3)) to ((oy0 + oyN - 1) / outChunk(3))
        gx <- (ox0 / outChunk(4)) to ((ox0 + oxN - 1) / outChunk(4))
      } yield {
        val rz0 = math.max(oz0, gz * outChunk(2))
        val rzN = (math.min(oz0 + ozN, (gz + 1) * outChunk(2)) - rz0).toInt
        val ry0 = math.max(oy0, gy * outChunk(3))
        val ryN = (math.min(oy0 + oyN, (gy + 1) * outChunk(3)) - ry0).toInt
        val rx0 = math.max(ox0, gx * outChunk(4))
        val rxN = (math.min(ox0 + oxN, (gx + 1) * outChunk(4)) - rx0).toInt
        val sums = new Array[Double](rzN * ryN * rxN)
        val counts = new Array[Int](rzN * ryN * rxN)
        var z = 0
        while (z < sz) {
          val oz = (vz0 + z) / fz
          if (oz >= rz0 && oz < rz0 + rzN) {
            var y = 0
            while (y < sy) {
              val oy = (vy0 + y) / fy
              if (oy >= ry0 && oy < ry0 + ryN) {
                var x = 0
                while (x < sx) {
                  val ox = (vx0 + x) / fx
                  if (ox >= rx0 && ox < rx0 + rxN) {
                    val ri = ((oz - rz0).toInt * ryN + (oy - ry0).toInt) * rxN + (ox - rx0).toInt
                    sums(ri) += px(z * sy * sx + y * sx + x)
                    counts(ri) += 1
                  }
                  x += 1
                }
              }
              y += 1
            }
          }
          z += 1
        }
        (ck.t, ck.c, gz, gy, gx, rz0, ry0, rx0, Array(rzN, ryN, rxN), sums, counts)
      }
    }

    // reduce: merge partials per output chunk, divide once
    val out = pieces
      .groupByKey { case (t, c, gz, gy, gx, _, _, _, _, _, _) => (t, c, gz, gy, gx) }
      .mapGroups { (key: (Int, Int, Long, Long, Long),
                    it: Iterator[(Int, Int, Long, Long, Long, Long, Long, Long, Array[Int], Array[Double], Array[Int])]) =>
        val (t, c, gz, gy, gx) = key
        val coords = Array(t.toLong, c.toLong, gz, gy, gx)
        val cs = ChunkGrid.clampedChunkShape(coords, outShape, outChunk)
        val sums = new Array[Double](cs.product)
        val counts = new Array[Int](cs.product)
        it.foreach { case (_, _, _, _, _, rz0, ry0, rx0, rs, ps, pc) =>
          val (offZ, offY, offX) =
            ((rz0 - gz * outChunk(2)).toInt, (ry0 - gy * outChunk(3)).toInt, (rx0 - gx * outChunk(4)).toInt)
          var z = 0
          while (z < rs(0)) {
            var y = 0
            while (y < rs(1)) {
              var x = 0
              while (x < rs(2)) {
                val di = ((offZ + z) * cs(3) + (offY + y)) * cs(4) + (offX + x)
                val si = (z * rs(1) + y) * rs(2) + x
                sums(di) += ps(si)
                counts(di) += pc(si)
                x += 1
              }
              y += 1
            }
            z += 1
          }
        }
        val bytes = dtype match {
          case graft.core.PixelDtype.F32 =>
            PixelCodec.f32ToBytes(Array.tabulate(sums.length)(i => (sums(i) / counts(i)).toFloat))
          case d =>
            PixelCodec.fromInts(Array.tabulate(sums.length)(i =>
              math.floor(sums(i) / counts(i)).toInt), d)
        }
        ZarrChunk(stack, level, t, c, gz.toInt, gy.toInt, gx.toInt, cs, bytes)
      }
    (outVol, out)
  }

  /** Per-level pyramid: levels 1..n-1, each computed from the previous
    * level (reference X6, `czi_to_zarr.py:623-635`). Nothing is
    * persisted: [[build]]'s unaligned fallback unions these levels into
    * one plan, where each level's exchange runs once and is reused by
    * the levels above it. Also the reference [[build]] is checked
    * against (PyramidFusedSpec). */
  private[operators] def levels(spark: SparkSession, level0: Dataset[ZarrChunk], vol: Volume,
             nLevels: Int, factorZyx: Array[Int] = Array(2, 2, 2)): Seq[(Volume, Dataset[ZarrChunk])] =
    Iterator.iterate((vol, level0)) { case (v, ds) => downsampleLevel(spark, ds, v, factorZyx) }
      .slice(1, nLevels).toSeq

  /** The pyramid: levels 1..n-1 of `level0` as one chunk Dataset, plus
    * their volumes. ONE map pass emits every level's pieces
    * chunk-locally, ONE shuffle (keyed by (level, out-chunk)) assembles
    * them — no per-level exchange, no persist barrier.
    *
    * Validity: level-(k+1) windows must never cross level-k piece
    * boundaries. Pieces from one input chunk have size chunk/f^k, and
    * windows start at multiples of f, so the fused recursion equals the
    * assemble-then-downsample sequence iff chunk % f^(nLevels-1) == 0
    * on every spatial axis (true for the reference's 128^3 / x2 config
    * and z1's 32^3 / 4 levels; PyramidFusedSpec pins byte-equality vs
    * [[levels]] including ceil-edge chunks). Unaligned configs fall
    * back to the union of [[levels]] — correctness never depends on the
    * fast path. Neither path caches anything.
    *
    * Scale: the exchange carries sum over k of 1/f^3k of the input
    * (~14.5% for f=2) in one stage — at 100 TB that is one 14.5 TB
    * shuffle instead of three 12.5/1.6/0.2 TB stages with a persist
    * barrier between each; map output is grid-uniform, no skew. */
  def build(spark: SparkSession, level0: Dataset[ZarrChunk], vol: Volume,
            nLevels: Int, factorZyx: Array[Int] = Array(2, 2, 2)):
      (Seq[Volume], Dataset[ZarrChunk]) =
    if (aligned(vol, factorZyx, nLevels - 1)) fused(spark, level0, vol, nLevels, factorZyx)
    else {
      val seq = levels(spark, level0, vol, nLevels, factorZyx)
      (seq.map(_._1), seq.map(_._2).reduce(_ union _))
    }

  /** chunk % f^halvings == 0 on every spatial axis: windows of every
    * halving stay inside one input chunk's pieces. */
  private def aligned(vol: Volume, factorZyx: Array[Int], halvings: Int): Boolean =
    (2 to 4).forall { i =>
      val fPow = math.pow(factorZyx(i - 2).toDouble, halvings.toDouble).toLong
      fPow > 0 && vol.chunk(i) % fPow == 0
    }

  /** The fused body of [[build]] for aligned configs: recursive
    * chunk-local halvings on the map side, one [[Regrid.assemble]]
    * whose output index is the level (relative to `vol`). */
  private def fused(spark: SparkSession, level0: Dataset[ZarrChunk], vol: Volume,
                    nLevels: Int, factorZyx: Array[Int]): (Seq[Volume], Dataset[ZarrChunk]) = {
    import spark.implicits._
    val outs = Iterator.iterate(vol)(_.downsampled(factorZyx)).take(nLevels).toSeq
    val chunk = vol.chunk
    val dtype = vol.dtype

    // map: recursive chunk-local halvings; piece k's voxel origin is the
    // chunk origin divided by f^k (exact by the alignment requirement),
    // so each piece lies inside one level-k chunk and is cut uncopied
    val pieces = level0.flatMap { ck =>
      var data = ck.data
      var shape = ck.shape
      val at = Array(ck.z.toLong * chunk(2), ck.y.toLong * chunk(3), ck.x.toLong * chunk(4))
      (1 until nLevels).iterator.flatMap { lvl =>
        val (b, ps) = downsampleBytes(data, shape, factorZyx, dtype)
        data = b; shape = ps
        (0 until 3).foreach(a => at(a) /= factorZyx(a))
        Regrid.cut(lvl, ck.t, ck.c, 0L, b, at.clone(), ps.drop(2), chunk.drop(2), dtype.itemSize)
      }
    }
    (outs.tail, Regrid.assemble(pieces, outs))
  }
}
