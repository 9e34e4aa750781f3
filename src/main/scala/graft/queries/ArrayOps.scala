package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Volume, ZarrChunk}
import graft.io.zarr.ZarrIO
import graft.operators.Pyramid
import graft.sources.SyntheticStack

/** Array-pipeline operators wired into the driver's DuckDB-oracle gate.
  *
  * The synthetic voxel function v(z,y,x) = (31z+17y+13x) mod 65536 is
  * recomputable in DuckDB from `range()` arithmetic, so the REAL array
  * pipeline (distributed generate -> chunk-local windowed-mean pyramid ->
  * Blosc/zstd Zarr v2 sink -> distributed Zarr source) gets end-to-end
  * value-level verification through the same gate as the tabular queries:
  *
  *  - `z1_pyramid_mean`  — reference A1 (`czi_to_zarr.py:410-454`): two
  *    pyramid halvings, voxel-exact vs the oracle's grouped floor-means;
  *  - `z2_zarr_roundtrip` — reference K1/K4/S6 (`czi_to_zarr.py:585-608`):
  *    write all chunks through the `format("zarr")` sink, read them back
  *    as `ZarrChunk`s with the same source, per-chunk sums must match
  *    pure arithmetic.
  */
object ArrayOps {

  /** 64^3 volume in 32^3 chunks: big enough to exercise multi-chunk
    * assembly (8 chunks at level 0), small enough to verify every voxel. */
  private val pyramidVol = Volume("synth", 0, Array(1L, 1L, 64L, 64L, 64L), Array(1, 1, 32, 32, 32))

  /** 48^3 volume in 16^3 chunks: 27 chunks, exercises grid + codec. */
  private val rtVol = Volume("rt", 0, Array(1L, 1L, 48L, 48L, 48L), Array(1, 1, 16, 16, 16))

  /** Global (level, z, y, x, v) voxel rows from a pyramid's chunk
    * stream. Per-AXIS chunk extents (constant across levels —
    * guaranteed by Volume.downsampled — but NOT necessarily cubic): the
    * global voxel offset along each axis is chunk index x that axis's
    * extent; using one axis's extent for all three would silently
    * mis-place voxels under a non-cubic chunk config (ADVICE r15).
    * Pinned against a non-cubic volume in PyramidFusedSpec. */
  private[graft] def voxelize(s: SparkSession,
      all: org.apache.spark.sql.Dataset[ZarrChunk], vol: Volume): DataFrame = {
    import s.implicits._
    val (cz, cy, cx) = (vol.chunk(2), vol.chunk(3), vol.chunk(4))
    all.flatMap { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for {
        z <- 0 until sz
        y <- 0 until sy
        x <- 0 until sx
      } yield (ck.level, ck.z.toLong * cz + z, ck.y.toLong * cy + y,
        ck.x.toLong * cx + x, px(z * sy * sx + y * sx + x).toLong)
    }.toDF("level", "z", "y", "x", "v")
  }

  /** Sum of the little-endian u16 pixels in `data`, read in place. */
  private def u16Sum(data: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i + 1 < data.length) {
      sum += (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8)
      i += 2
    }
    sum
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z1_pyramid_mean" -> ((s, _) => {
      val l0 = SyntheticStack.generate(s, pyramidVol)
      // the job's pyramid: one map pass + one exchange for all 3 levels
      val (_, all) = Pyramid.build(s, l0, pyramidVol, nLevels = 4)
      voxelize(s, all, pyramidVol)
        .orderBy(col("level"), col("z"), col("y"), col("x"))
    }),

    "z2_zarr_roundtrip" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("zarr-q")
      val l0 = SyntheticStack.generate(s, rtVol)
      ZarrIO.writeMetadata(dir, rtVol, nLevels = 1)
      l0.toDF().write.format("zarr").option("path", dir).mode("append").save()
      s.read.format("zarr").option("path", dir).option("stack", "rt").load()
        .as[ZarrChunk]
        .map(ck => (ck.z.toLong, ck.y.toLong, ck.x.toLong, u16Sum(ck.data), ck.data.length / 2L))
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- same roundtrip through the Zarr DataSource V2 connector:
    //     df.write.format("zarr") -> spark.read.format("zarr") ---
    "z3_dsv2_scan" -> ((s, _) => {
      val dir = graft.Scratch.dir("zarr-dsv2-q")
      val vol = Volume("v2q", 0, Array(1L, 1L, 40L, 40L, 40L), Array(1, 1, 16, 16, 16))
      ZarrIO.writeMetadata(dir, vol, nLevels = 1)
      SyntheticStack.generate(s, vol).toDF()
        .write.format("zarr").option("path", dir).mode("append").save()
      import s.implicits._
      s.read.format("zarr")
        .option("path", dir).option("stack", "v2q").load()
        .select(col("z"), col("y"), col("x"), col("data"))
        .as[(Int, Int, Int, Array[Byte])]
        .map { case (z, y, x, data) =>
          (z.toLong, y.toLong, x.toLong, u16Sum(data), data.length / 2L)
        }
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- coordinate pushdown + column pruning through the DSv2 scan:
    //     the z/y predicates are absorbed into the chunk-grid partition
    //     planning (only the matching sub-grid is enumerated) and the
    //     projection drops `data`, so no chunk file is ever opened —
    //     the Zarr analogue of parquet partition pruning + ReadSchema ---
    "z5_dsv2_pushdown" -> ((s, _) => {
      val dir = graft.Scratch.dir("zarr-push-q")
      val vol = Volume("pq", 0, Array(1L, 1L, 40L, 40L, 40L), Array(1, 1, 16, 16, 16))
      ZarrIO.writeMetadata(dir, vol, nLevels = 1)
      SyntheticStack.generate(s, vol).toDF()
        .write.format("zarr").option("path", dir).mode("append").save()
      s.read.format("zarr")
        .option("path", dir).option("stack", "pq").load()
        .filter(col("z") === 1 && col("y") >= 1 && col("x") < 2)
        .select(col("z").as("cz"), col("y").as("cy"), col("x").as("cx"),
          expr("CAST(shape[2] * shape[3] * shape[4] AS BIGINT)").as("n_voxels"))
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- aggregate pushdown under the gate: COUNT/MIN/MAX over chunk
    //     coordinates on a store with NO chunk files at all — the answer
    //     must come from .zarray grid arithmetic (one no-IO task), which
    //     the oracle states as constants ---
    "z7_dsv2_agg" -> ((s, _) => {
      val dir = graft.Scratch.dir("zarr-agg-q")
      val vol = Volume("aq", 0, Array(1L, 1L, 40L, 24L, 24L), Array(1, 1, 8, 8, 8))
      ZarrIO.writeMetadata(dir, vol, nLevels = 1)
      s.read.format("zarr").option("path", dir).option("stack", "aq").load()
        .filter(col("z") >= 1 && col("z") <= 3)
        .agg(count(lit(1)).as("n_chunks"),
          min(col("z")).cast("long").as("min_z"),
          max(col("z")).cast("long").as("max_z"),
          min(col("y")).cast("long").as("min_y"),
          max(col("x")).cast("long").as("max_x"))
    }),

    // --- GROUPED aggregate pushdown: per-z chunk counts and channel/y
    //     extrema GROUP BY a coordinate axis, again on a store with no
    //     chunk files — each group is a coordinate combination whose
    //     count is the product of the other axes' extents, enumerated
    //     from .zarray arithmetic (range-partitioned group space, zero
    //     IO). The per-partition/per-channel rollups a 100 TB store
    //     answers without touching a single chunk. ---
    "z11_dsv2_grouped_agg" -> ((s, _) => {
      val dir = graft.Scratch.dir("zarr-gagg-q")
      val vol = Volume("gq", 0, Array(1L, 3L, 40L, 24L, 24L), Array(1, 1, 8, 8, 8))
      ZarrIO.writeMetadata(dir, vol, nLevels = 1)
      s.read.format("zarr").option("path", dir).option("stack", "gq").load()
        .filter(col("z") >= 1 && col("z") <= 3)
        .groupBy(col("z"))
        .agg(count(lit(1)).as("n_chunks"),
          min(col("c")).cast("long").as("min_c"),
          max(col("c")).cast("long").as("max_c"),
          max(col("y")).cast("long").as("max_y"))
        .select(col("z").cast("long").as("cz"), col("n_chunks"),
          col("min_c"), col("max_c"), col("max_y"))
        .orderBy(col("cz"))
    }),

    // --- multi-channel CZI under the gate: 2 channels, one task per
    //     (channel, z-slab), per-channel chunk sums recomputed by the
    //     oracle from arithmetic (channel offset 1000c mod 65536) ---
    "z6_multichannel" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-mc-q")
      val path = s"$dir/mc.czi"
      val chans = Array.tabulate(2, 24, 40, 40)((c, z, y, x) =>
        (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
      graft.sources.czi.SyntheticCzi.writeChannels(path, chans)
      val (vol, idx) = graft.sources.czi.CziSource.volume(path, "mc", Array(8, 16, 16))
      graft.sources.czi.CziSource.scan(s, path, vol, idx)
        .map(ck => (ck.c.toLong, ck.z.toLong, ck.y.toLong, ck.x.toLong,
          u16Sum(ck.data), ck.data.length / 2L))
        .toDF("cc", "cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cc"), col("cz"), col("cy"), col("cx"))
    }),

    // --- multi-timepoint CZI under the gate: 2 timepoints x 2 channels,
    //     one task per (timepoint, channel, z-slab); the t=1 filter
    //     prunes FRAME partitions (asserted in CziDataSourceSpec) and the
    //     oracle recomputes the kept frame's chunk sums from arithmetic
    //     (offsets 3000t + 1000c mod 65536) ---
    "z10_czi_timeseries" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-ts-q")
      val path = s"$dir/ts.czi"
      val frames = Array.tabulate(2, 2, 16, 32, 32)((t, c, z, y, x) =>
        (SyntheticStack.value(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF)
      graft.sources.czi.SyntheticCzi.writeTC(path, frames)
      s.read.format("czi")
        .option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .filter(col("t") === 1)
        .select(col("c"), col("z"), col("y"), col("x"), col("data"))
        .as[(Int, Int, Int, Int, Array[Byte])]
        .map { case (c, z, y, x, data) =>
          (c.toLong, z.toLong, y.toLong, x.toLong, u16Sum(data), data.length / 2L)
        }
        .toDF("cc", "cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cc"), col("cz"), col("cy"), col("cx"))
    }),

    // --- the CZI connector as a first-class source: format("czi") with
    //     channel/slab PARTITION pruning (the c=1 filter plans only that
    //     channel's slabs — asserted in CziDataSourceSpec), same chunk
    //     rows as the zarr connector, same arithmetic oracle as z6 for
    //     the pruned channel ---
    "z8_czi_dsv2" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-dsv2-q")
      val path = s"$dir/q8.czi"
      val chans = Array.tabulate(2, 24, 40, 40)((c, z, y, x) =>
        (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
      graft.sources.czi.SyntheticCzi.writeChannels(path, chans)
      s.read.format("czi")
        .option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .filter(col("c") === 1)
        .select(col("z"), col("y"), col("x"), col("data"))
        .as[(Int, Int, Int, Array[Byte])]
        .map { case (z, y, x, data) =>
          (z.toLong, y.toLong, x.toLong, u16Sum(data), data.length / 2L)
        }
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- CZI aggregate pushdown under the gate: the c/z filters prune
    //     the (channel, slab) grid at planning time and the ungrouped
    //     COUNT/MIN/MAX is answered from that arithmetic in one no-IO
    //     task — parity with the zarr connector's z7 (no subblock is
    //     ever opened; the oracle states the constants) ---
    "z9_czi_agg" -> ((s, _) => {
      val dir = graft.Scratch.dir("czi-agg-q")
      val path = s"$dir/q9.czi"
      val chans = Array.tabulate(2, 24, 40, 40)((c, z, y, x) =>
        (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
      graft.sources.czi.SyntheticCzi.writeChannels(path, chans)
      s.read.format("czi")
        .option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .filter(col("c") === 1 && col("z") >= 1)
        .agg(count(lit(1)).as("n_chunks"),
          min(col("z")).cast("long").as("min_z"),
          max(col("z")).cast("long").as("max_z"),
          min(col("y")).cast("long").as("min_y"),
          max(col("x")).cast("long").as("max_x"))
    }),

    // --- grouped aggregate pushdown through format("czi"): per-channel
    //     chunk counts and slab extrema GROUP BY c, straight from the
    //     subblock-directory grid arithmetic — parity with the zarr
    //     connector's z11, no subblock ever decompressed ---
    "z12_czi_grouped_agg" -> ((s, _) => {
      val dir = graft.Scratch.dir("czi-gagg-q")
      val path = s"$dir/q12.czi"
      val chans = Array.tabulate(2, 24, 40, 40)((c, z, y, x) =>
        (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
      graft.sources.czi.SyntheticCzi.writeChannels(path, chans)
      s.read.format("czi")
        .option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .filter(col("z") >= 1)
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n_chunks"),
          min(col("z")).cast("long").as("min_z"),
          max(col("z")).cast("long").as("max_z"),
          max(col("y")).cast("long").as("max_y"))
        .select(col("c").cast("long").as("cc"), col("n_chunks"),
          col("min_z"), col("max_z"), col("max_y"))
        .orderBy(col("cc"))
    }),

    // --- the CZI (ZISRAW) parser under the gate: write a synthetic CZI
    //     (mixed raw + zstd0 subblocks), scan it distributed, aggregate
    //     per-chunk sums that the oracle recomputes from arithmetic ---
    "z4_czi_scan" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-q")
      val path = s"$dir/q.czi"
      val data = Array.tabulate(24, 40, 40)((z, y, x) => SyntheticStack.value(z, y, x))
      graft.sources.czi.SyntheticCzi.write(path, data)
      val (vol, idx) = graft.sources.czi.CziSource.volume(path, "q", Array(8, 16, 16))
      graft.sources.czi.CziSource.scan(s, path, vol, idx)
        .map(ck => (ck.z.toLong, ck.y.toLong, ck.x.toLong, u16Sum(ck.data), ck.data.length / 2L))
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- mosaic stitching under the gate: a 2x2 grid of positioned M
    //     tiles (plus one reduced-resolution pyramid subblock that MUST
    //     be skipped) scans through the format("czi") connector into a
    //     chunk grid whose tiles CROSS the mosaic seams (chunk 16 over
    //     20-wide tiles) — any placement slip or pyramid leak changes the
    //     per-chunk sums the oracle recomputes from the global value
    //     formula. ---
    "z13_mosaic_scan" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-mosaic-q")
      val path = s"$dir/q13.czi"
      val nz = 8; val tile = 20
      val tiles = (for {
        z <- 0 until nz; my <- 0 until 2; mx <- 0 until 2
      } yield graft.sources.czi.SyntheticCzi.Tile(
        dims = Seq(("X", mx * tile, tile), ("Y", my * tile, tile), ("Z", z, 1),
          ("C", 0, 1), ("M", my * 2 + mx, 1)),
        pixels = Array.tabulate(tile * tile)(i =>
          SyntheticStack.value(z, my * tile + i / tile, mx * tile + i % tile)),
        compression = graft.sources.czi.CziFormat.CompressionZstd0)) :+
        graft.sources.czi.SyntheticCzi.Tile(
          dims = Seq(("X", 0, 40), ("Y", 0, 40), ("Z", 0, 1), ("C", 0, 1)),
          pixels = Array.fill(20 * 20)(0x7777),
          stored = Map("X" -> 20, "Y" -> 20))
      graft.sources.czi.SyntheticCzi.writeTiles(path, tiles)
      s.read.format("czi")
        .option("path", path)
        .option("chunk_z", "4").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .select(col("z"), col("y"), col("x"), col("data"))
        .as[(Int, Int, Int, Array[Byte])]
        .map { case (z, y, x, data) =>
          (z.toLong, y.toLong, x.toLong, u16Sum(data), data.length / 2L)
        }
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- distributed re-chunking under the gate: a (8,16,16)-chunked
    //     volume re-cut to (12,20,8) — every axis misaligned, so every
    //     output chunk assembles pieces from several inputs across one
    //     voxel-exactly-once shuffle (`operators/Rechunk`). The oracle
    //     recomputes per-TARGET-chunk sums from the value formula; any
    //     piece offset slip or seam loss changes a sum. ---
    "z14_rechunk" -> ((s, _) => {
      import s.implicits._
      val vol = Volume("rq", 0, Array(1L, 1L, 24L, 40L, 40L), Array(1, 1, 8, 16, 16))
      val l0 = SyntheticStack.generate(s, vol)
      graft.operators.Rechunk(l0, vol, Array(12, 20, 8))
        .map(ck => (ck.z.toLong, ck.y.toLong, ck.x.toLong, u16Sum(ck.data), ck.data.length / 2L))
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    }),

    // --- voxel-value histogram THROUGH the connector's data path: the
    //     intensity distribution A3's percentile stretch (and any omero
    //     window-bounds estimate) would consume, computed the way a
    //     100 TB scan must — each task folds its own chunks into a
    //     bounded per-chunk histogram (≤256 buckets regardless of
    //     volume size), and only those tiny partials shuffle to the
    //     bucket rollup. The deliberate contrast with z9/z11: those
    //     aggregates are answered from grid METADATA with zero chunk
    //     IO; this one must decode every chunk, gating the connector's
    //     read+decompress path under real aggregation. ---
    "z15_voxel_histogram" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("zarr-hist-q")
      val vol = Volume("vh", 0, Array(1L, 1L, 40L, 40L, 40L), Array(1, 1, 16, 16, 16))
      ZarrIO.writeMetadata(dir, vol, nLevels = 1)
      SyntheticStack.generate(s, vol).toDF()
        .write.format("zarr").option("path", dir).mode("append").save()
      s.read.format("zarr")
        .option("path", dir).option("stack", "vh").load()
        .select(col("data")).as[Array[Byte]]
        .flatMap { data =>
          val px = graft.core.PixelCodec.toInts(data)
          val h = new Array[Long](256)
          var i = 0
          while (i < px.length) { h(px(i) >> 8) += 1; i += 1 }
          h.iterator.zipWithIndex.collect {
            case (n, b) if n > 0 => (b.toLong, n)
          }
        }
        .toDF("bucket", "bn")
        .groupBy(col("bucket")).agg(sum(col("bn")).cast("long").as("n_voxels"))
        .orderBy(col("bucket"))
    }),

    // --- JPEG-XR sidecar remediation under the gate (r14 verdict ask
    //     #6): a codec-4 CZI — the one subblock codec CziReader.decode
    //     rejects, so planning must redirect or refuse it — ships next
    //     to its `<base>.transcoded.czi` sidecar (the
    //     czicompress-style lossless re-encode; reference decodes
    //     codec 4 inline via imagecodecs, utils.py:231-281). The query
    //     reads the ORIGINAL path through format("czi"):
    //     CziSource.resolveInput must redirect to the sidecar at
    //     planning time (shape/dtype cross-checked), and the per-chunk
    //     voxel sums must equal the same global value formula z4 pins —
    //     a wrong redirect, a stale-sidecar mismatch, or any placement
    //     slip in the transcoded subblocks changes the sums. ---
    "z16_jxr_sidecar" -> ((s, _) => {
      import s.implicits._
      val dir = graft.Scratch.dir("czi-jxr-q")
      val path = s"$dir/q16.czi"
      def tiles(comp: Int) = for (z <- 0 until 24) yield
        graft.sources.czi.SyntheticCzi.Tile(
          dims = Seq(("X", 0, 40), ("Y", 0, 40), ("Z", z, 1), ("C", 0, 1)),
          pixels = Array.tabulate(1600)(i => SyntheticStack.value(z, i / 40, i % 40)),
          compression = comp)
      graft.sources.czi.SyntheticCzi.writeTiles(path,
        tiles(graft.sources.czi.CziFormat.CompressionJpgXr))
      graft.sources.czi.SyntheticCzi.writeTiles(s"$dir/q16.transcoded.czi",
        tiles(graft.sources.czi.CziFormat.CompressionZstd0))
      s.read.format("czi")
        .option("path", path) // codec-4 original; connector resolves the sidecar
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load()
        .select(col("z"), col("y"), col("x"), col("data"))
        .as[(Int, Int, Int, Array[Byte])]
        .map { case (z, y, x, data) =>
          (z.toLong, y.toLong, x.toLong, u16Sum(data), data.length / 2L)
        }
        .toDF("cz", "cy", "cx", "sum_v", "n_voxels")
        .orderBy(col("cz"), col("cy"), col("cx"))
    })
  )

  val oracles: Map[String, String] = Map(
    "z1_pyramid_mean" ->
      """WITH l0 AS (
        |  SELECT range // 4096 AS z, (range // 64) % 64 AS y, range % 64 AS x,
        |         (31 * (range // 4096) + 17 * ((range // 64) % 64) + 13 * (range % 64)) % 65536 AS v
        |  FROM range(262144)
        |), l1 AS (
        |  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
        |         CAST(floor(avg(v)) AS BIGINT) AS v
        |  FROM l0 GROUP BY z // 2, y // 2, x // 2
        |), l2 AS (
        |  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
        |         CAST(floor(avg(v)) AS BIGINT) AS v
        |  FROM l1 GROUP BY z // 2, y // 2, x // 2
        |), l3 AS (
        |  SELECT z // 2 AS z, y // 2 AS y, x // 2 AS x,
        |         CAST(floor(avg(v)) AS BIGINT) AS v
        |  FROM l2 GROUP BY z // 2, y // 2, x // 2
        |)
        |SELECT 1 AS level, z, y, x, v FROM l1
        |UNION ALL
        |SELECT 2 AS level, z, y, x, v FROM l2
        |UNION ALL
        |SELECT 3 AS level, z, y, x, v FROM l3
        |ORDER BY level, z, y, x""".stripMargin,

    "z2_zarr_roundtrip" ->
      """WITH l0 AS (
        |  SELECT range // 2304 AS z, (range // 48) % 48 AS y, range % 48 AS x,
        |         (31 * (range // 2304) + 17 * ((range // 48) % 48) + 13 * (range % 48)) % 65536 AS v
        |  FROM range(110592)
        |)
        |SELECT z // 16 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    "z3_dsv2_scan" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)) % 65536 AS v
        |  FROM range(64000)
        |)
        |SELECT z // 16 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    "z5_dsv2_pushdown" ->
      """WITH g AS (
        |  SELECT a.range AS cz, b.range AS cy, c.range AS cx
        |  FROM range(3) a, range(3) b, range(3) c
        |)
        |SELECT cz, cy, cx,
        |       CAST((CASE WHEN cz = 2 THEN 8 ELSE 16 END)
        |          * (CASE WHEN cy = 2 THEN 8 ELSE 16 END)
        |          * (CASE WHEN cx = 2 THEN 8 ELSE 16 END) AS BIGINT) AS n_voxels
        |FROM g WHERE cz = 1 AND cy >= 1 AND cx < 2
        |ORDER BY cz, cy, cx""".stripMargin,

    "z7_dsv2_agg" ->
      """SELECT CAST(27 AS BIGINT) AS n_chunks,
        |  CAST(1 AS BIGINT) AS min_z, CAST(3 AS BIGINT) AS max_z,
        |  CAST(0 AS BIGINT) AS min_y, CAST(2 AS BIGINT) AS max_x""".stripMargin,

    // grid (t,c,z,y,x) = (1,3,5,3,3), z restricted to [1..3]: each z
    // group holds 3(c) * 3(y) * 3(x) = 27 chunks, c spans 0..2, y 0..2
    "z11_dsv2_grouped_agg" ->
      """SELECT CAST(r.range + 1 AS BIGINT) AS cz,
        |  CAST(27 AS BIGINT) AS n_chunks,
        |  CAST(0 AS BIGINT) AS min_c, CAST(2 AS BIGINT) AS max_c,
        |  CAST(2 AS BIGINT) AS max_y
        |FROM range(3) r ORDER BY cz""".stripMargin,

    "z6_multichannel" ->
      """WITH l0 AS (
        |  SELECT c.c AS cc, range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)
        |          + 1000 * c.c) % 65536 AS v
        |  FROM range(38400), (SELECT unnest(generate_series(0, 1)) AS c) c
        |)
        |SELECT cc, z // 8 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3, 4
        |ORDER BY cc, cz, cy, cx""".stripMargin,

    // t=1 kept: per-voxel value (31z + 17y + 13x + 3000 + 1000c) mod 65536
    "z10_czi_timeseries" ->
      """WITH l0 AS (
        |  SELECT c.c AS cc, range // 1024 AS z, (range // 32) % 32 AS y, range % 32 AS x,
        |         (31 * (range // 1024) + 17 * ((range // 32) % 32) + 13 * (range % 32)
        |          + 3000 + 1000 * c.c) % 65536 AS v
        |  FROM range(16384), (SELECT unnest(generate_series(0, 1)) AS c) c
        |)
        |SELECT cc, z // 8 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3, 4
        |ORDER BY cc, cz, cy, cx""".stripMargin,

    "z8_czi_dsv2" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)
        |          + 1000) % 65536 AS v
        |  FROM range(38400)
        |)
        |SELECT z // 8 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    // 2 channels x 3 z-slabs x 3x3 XY tiles; c=1, z>=1 selects 1x2x9=18
    // grid (t,c,z,y,x) = (1,2,3,3,3) at chunk (8,16,16), z >= 1: each
    // channel keeps 2(z) * 3(y) * 3(x) = 18 chunks, slabs span 1..2
    "z12_czi_grouped_agg" ->
      """SELECT CAST(r.range AS BIGINT) AS cc,
        |  CAST(18 AS BIGINT) AS n_chunks,
        |  CAST(1 AS BIGINT) AS min_z, CAST(2 AS BIGINT) AS max_z,
        |  CAST(2 AS BIGINT) AS max_y
        |FROM range(2) r ORDER BY cc""".stripMargin,

    "z9_czi_agg" ->
      """SELECT CAST(18 AS BIGINT) AS n_chunks,
        |  CAST(1 AS BIGINT) AS min_z, CAST(2 AS BIGINT) AS max_z,
        |  CAST(0 AS BIGINT) AS min_y, CAST(2 AS BIGINT) AS max_x""".stripMargin,

    // target grid over 24 x 40 x 40: z // 12, y // 20, x // 8
    "z14_rechunk" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)) % 65536 AS v
        |  FROM range(38400)
        |)
        |SELECT z // 12 AS cz, y // 20 AS cy, x // 8 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    // v >> 8 on the Spark side is v // 256 here (uint16 values)
    "z15_voxel_histogram" ->
      """WITH l0 AS (
        |  SELECT (31 * (range // 1600) + 17 * ((range // 40) % 40)
        |          + 13 * (range % 40)) % 65536 AS v
        |  FROM range(64000)
        |)
        |SELECT CAST(v // 256 AS BIGINT) AS bucket, count(*) AS n_voxels
        |FROM l0 GROUP BY 1 ORDER BY bucket""".stripMargin,

    // the stitched 8 x 40 x 40 volume IS the global value grid — the
    // mosaic layout (tile offsets, M indices, the skipped pyramid
    // subblock) must be invisible in the chunk sums
    "z13_mosaic_scan" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)) % 65536 AS v
        |  FROM range(12800)
        |)
        |SELECT z // 4 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    "z4_czi_scan" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)) % 65536 AS v
        |  FROM range(38400)
        |)
        |SELECT z // 8 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin,

    // same 24x40x40 global value grid as z4: the codec-4 original must
    // be answered voxel-exact from its transcoded sidecar
    "z16_jxr_sidecar" ->
      """WITH l0 AS (
        |  SELECT range // 1600 AS z, (range // 40) % 40 AS y, range % 40 AS x,
        |         (31 * (range // 1600) + 17 * ((range // 40) % 40) + 13 * (range % 40)) % 65536 AS v
        |  FROM range(38400)
        |)
        |SELECT z // 8 AS cz, y // 16 AS cy, x // 16 AS cx,
        |       CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n_voxels
        |FROM l0 GROUP BY 1, 2, 3
        |ORDER BY cz, cy, cx""".stripMargin
  )
}
