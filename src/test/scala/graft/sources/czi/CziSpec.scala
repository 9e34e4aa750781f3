package graft.sources.czi

import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{PixelCodec, PixelDtype, Volume, ZarrChunk}
import graft.io.zarr.{ZarrIO, ZarrStore}
import graft.jobs.ZeissJob
import graft.operators.Pyramid
import graft.operators.PyramidFusedSpec.assertOracleLevels
import graft.sources.SyntheticStack
import graft.tools.Census

/** `format("czi")` with the tile-run bound taken from the
  * `max_task_bytes` option, so a test can split small slabs into runs. */
class SplitCziSource extends CziDataSource {
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    new CziTable(props, props("max_task_bytes").toLong)
  }
}

class CziSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-czi-test")

  private def synth(nz: Int, ny: Int, nx: Int): Array[Array[Array[Int]]] =
    Array.tabulate(nz, ny, nx)((z, y, x) => SyntheticStack.value(z, y, x))

  /** `path` read with each slab split into runs of `perRun` tiles, through
    * [[CziSource.scan]] and through `format("czi")`; checks that each slab
    * splits into at least 3 runs, one of them starting inside a tile row. */
  private def splitScans(path: String, vol: Volume, idx: CziFormat.CziIndex,
                         perRun: Int): Seq[(String, Array[ZarrChunk])] = {
    val bound = perRun * vol.chunk.map(_.toLong).product * vol.dtype.itemSize
    val runs = CziSource.tileRuns(vol, bound)
    assert(runs.perRun == perRun && runs.count >= 3 &&
      (0 until runs.count).exists(runs(_).start % vol.grid(4) != 0), runs)
    import spark.implicits._
    val Array(_, _, cz, cy, cx) = vol.chunk
    Seq("split scan" -> CziSource.scan(spark, path, vol, idx, bound).collect(),
      "split format(czi)" -> spark.read.format(classOf[SplitCziSource].getName)
        .option("path", path).option("max_task_bytes", bound.toString)
        .option("chunk_z", cz.toString).option("chunk_y", cy.toString).option("chunk_x", cx.toString)
        .load().as[ZarrChunk].collect())
  }

  /** Each of `variants` holds exactly the chunks of `ref`, byte for byte. */
  private def assertSameChunks(ref: Array[ZarrChunk], variants: Seq[(String, Array[ZarrChunk])]): Unit = {
    def key(c: ZarrChunk) = (c.t, c.c, c.z, c.y, c.x)
    val want = ref.map(c => key(c) -> c).toMap
    for ((name, cks) <- variants) {
      assert(cks.length == ref.length && cks.map(key).toSet == want.keySet, name)
      cks.foreach { ck =>
        val r = want(key(ck))
        assert(ck.shape.toSeq == r.shape.toSeq, s"$name chunk ${key(ck)}")
        assert(ck.data.sameElements(r.data), s"$name chunk ${key(ck)} differs from the whole-slab scan")
      }
    }
  }

  test("env-var settings source: TRANSFORMATION_JOB_* fields parse like the JSON path") {
    // the reference CLI's third fallback (zeiss_job.py job_entrypoint:
    // no --job-settings / --config-file -> pydantic-settings env vars)
    val env = Map(
      "TRANSFORMATION_JOB_INPUT_SOURCE" -> "/data/in",
      "TRANSFORMATION_JOB_OUTPUT_DIRECTORY" -> "/data/out",
      // mock:// keeps the leakcheck's no-hardcoded-object-store rule
      // honest — the field is scheme-agnostic (any Hadoop-FS URI)
      "TRANSFORMATION_JOB_S3_LOCATION" -> "mock://out/prefix",
      "TRANSFORMATION_JOB_CHUNK_SIZE" -> "[64, 64, 64]",
      "TRANSFORMATION_JOB_DOWNSAMPLE_LEVELS" -> "2",
      "UNRELATED_VAR" -> "ignored")
    val s = ZeissJob.settingsFromEnv(env)
    assert(s.inputSource == "/data/in")
    assert(s.outputDirectory == "/data/out")
    assert(s.s3Location.contains("mock://out/prefix"))
    assert(s.chunkSize.toSeq == Seq(64, 64, 64))
    assert(s.downsampleLevels == 2)
    // unset fields keep the JSON path's defaults
    assert(s.scaleFactor.toSeq == Seq(2, 2, 2))
    assert(s.compressorLevel == 3)
    // missing required fields fail loudly, naming the vars
    val e = intercept[IllegalArgumentException](
      ZeissJob.settingsFromEnv(Map("TRANSFORMATION_JOB_INPUT_SOURCE" -> "/x")))
    assert(e.getMessage.contains("TRANSFORMATION_JOB_OUTPUT_DIRECTORY"))
  }

  test("inline settings parse strict JSON and the sbt-surviving single-quote form") {
    // `sbt "runMain ... {\"k\":\"v\"}"` never reaches the JVM intact —
    // sbt's command tokenizer strips escaped double quotes (found by
    // running the README recipe end-to-end in round 11). Single quotes
    // survive both bash and sbt, so the parser accepts them too.
    val strict = ZeissJob.parseSettings(
      """{"input_source":"/a","output_directory":"/b","chunk_size":[32,32,32]}""")
    val single = ZeissJob.parseSettingsInline(
      "{'input_source':'/a','output_directory':'/b','chunk_size':[32,32,32]}")
    // field-wise (Settings carries Array fields, whose == is by reference)
    assert(strict.inputSource == single.inputSource &&
      strict.outputDirectory == single.outputDirectory &&
      strict.chunkSize.toSeq == single.chunkSize.toSeq &&
      strict.scaleFactor.toSeq == single.scaleFactor.toSeq &&
      strict.downsampleLevels == single.downsampleLevels &&
      strict.compressorLevel == single.compressorLevel &&
      strict.s3Location == single.s3Location)
    assert(single.inputSource == "/a" && single.outputDirectory == "/b")
    assert(single.chunkSize.toSeq == Seq(32, 32, 32))
    // unquoted field names (another common shell-mangling survivor)
    val unq = ZeissJob.parseSettingsInline("{input_source:'/a',output_directory:'/b'}")
    assert(unq.inputSource == "/a" && unq.outputDirectory == "/b")
    // the lenience is scoped to the inline path: the strict parser (the
    // @file/env contract) must REJECT the single-quote form (r11 ADVICE)
    intercept[com.fasterxml.jackson.core.JsonProcessingException] {
      ZeissJob.parseSettings("{'input_source':'/a','output_directory':'/b'}")
    }
  }

  // one test per settings rule: the JSON path names the field, and the
  // numeric rules hold for direct construction (and so for env vars) too
  private val base = """"input_source":"/a","output_directory":"/b""""
  private def rejected(json: String, field: String): Unit = {
    val e = intercept[IllegalArgumentException](ZeissJob.parseSettings(json))
    assert(e.getMessage.contains(field), e.getMessage)
  }

  test("settings: input_source is required") {
    rejected("""{"output_directory":"/b"}""", "input_source")
    rejected("""{"input_source":null,"output_directory":"/b"}""", "input_source")
  }

  test("settings: output_directory is required") {
    rejected("""{"input_source":"/a"}""", "output_directory")
  }

  test("settings: chunk_size needs exactly 3 entries") {
    rejected(s"""{$base,"chunk_size":[64,64,64,64]}""", "chunk_size")
    rejected(s"""{$base,"chunk_size":[64,64]}""", "chunk_size")
    intercept[IllegalArgumentException](ZeissJob.Settings("/a", "/b", chunkSize = Array(8, 8)))
  }

  test("settings: chunk_size entries must be > 0") {
    rejected(s"""{$base,"chunk_size":[64,0,64]}""", "chunk_size")
    intercept[IllegalArgumentException](ZeissJob.Settings("/a", "/b", chunkSize = Array(8, -8, 8)))
  }

  test("settings: scale_factor needs exactly 3 entries") {
    rejected(s"""{$base,"scale_factor":[2,2,2,2]}""", "scale_factor")
    rejected(s"""{$base,"scale_factor":[2]}""", "scale_factor")
  }

  test("settings: scale_factor entries must be >= 1") {
    rejected(s"""{$base,"scale_factor":[2,0,2]}""", "scale_factor")
    // 1 is valid: no downsampling along that axis
    assert(ZeissJob.parseSettings(s"""{$base,"scale_factor":[1,2,2]}""").scaleFactor.toSeq == Seq(1, 2, 2))
  }

  test("settings: downsample_levels must be >= 1") {
    rejected(s"""{$base,"downsample_levels":0}""", "downsample_levels")
    val e = intercept[IllegalArgumentException](ZeissJob.settingsFromEnv(Map(
      "TRANSFORMATION_JOB_INPUT_SOURCE" -> "/a", "TRANSFORMATION_JOB_OUTPUT_DIRECTORY" -> "/b",
      "TRANSFORMATION_JOB_DOWNSAMPLE_LEVELS" -> "0")))
    assert(e.getMessage.contains("downsample_levels"), e.getMessage)
  }

  test("settings: the reference's target_size_mb and max_concurrent_stacks still parse, with no effect") {
    // FIXTURES §1.3 plus both fields: the job reads neither
    val s = ZeissJob.parseSettings("""{"input_source":"/a","output_directory":"/b",
      |"num_of_partitions":4,"partition_to_process":0,"s3_location":null,
      |"target_size_mb":19200,"max_concurrent_stacks":0}""".stripMargin)
    assert(s.inputSource == "/a" && s.outputDirectory == "/b" && s.s3Location.isEmpty)
    assert(s.chunkSize.toSeq == Seq(128, 128, 128) && s.downsampleLevels == 4)
    val e = ZeissJob.settingsFromEnv(Map(
      "TRANSFORMATION_JOB_INPUT_SOURCE" -> "/a", "TRANSFORMATION_JOB_OUTPUT_DIRECTORY" -> "/b",
      "TRANSFORMATION_JOB_TARGET_SIZE_MB" -> "0"))
    assert(e.inputSource == "/a" && e.outputDirectory == "/b")
  }

  test("settings: compressor_level must be >= 0") {
    rejected(s"""{$base,"compressor_level":-1}""", "compressor_level")
    intercept[IllegalArgumentException](ZeissJob.Settings("/a", "/b", compressorLevel = -1))
    assert(ZeissJob.parseSettings(s"""{$base,"compressor_level":0}""").compressorLevel == 0)
  }

  test("settings: compressor_level must be <= 9") {
    rejected(s"""{$base,"compressor_level":10}""", "compressor_level")
    intercept[IllegalArgumentException](ZeissJob.Settings("/a", "/b", compressorLevel = 10))
    assert(ZeissJob.parseSettings(s"""{$base,"compressor_level":9}""").compressorLevel == 9)
  }

  test("main's response line is valid JSON when the message holds quotes and backslashes") {
    val msg = """no CZI stacks under /in/a"b\c/SPIM"""
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      ZeissJob.responseJson(ZeissJob.JobResponse(400, msg)))
    assert(node.get("status_code").asInt == 400)
    assert(node.get("message").asText == msg)
  }

  test("CZI index parse: shape, pixel type, entries") {
    val dir = Files.createTempDirectory("czi").toString
    val path = s"$dir/t.czi"
    SyntheticCzi.write(path, synth(12, 40, 40))
    val idx = CziReader.index(path)
    assert(idx.shape.toSeq == Seq(1L, 1L, 12L, 40L, 40L))
    assert(idx.pixelType == CziFormat.PixelGray16)
    assert(idx.entries.size == 12)
    assert(idx.entries.map(_.compression).toSet ==
      Set(CziFormat.CompressionNone, CziFormat.CompressionZstd0,
        CziFormat.CompressionZstd1))
  }

  test("singleton scene/view/mosaic axes squeeze away like the reference's collapse") {
    val dir = Files.createTempDirectory("czi-axes").toString
    val path = s"$dir/s1.czi"
    SyntheticCzi.writeChannels(path, Array(synth(8, 16, 16)),
      extraDims = (_, _) => Seq(("S", 0, 1), ("B", 0, 1), ("V", 0, 1)))
    val idx = CziReader.index(path)
    assert(idx.shape.toSeq == Seq(1L, 1L, 8L, 16L, 16L))
    // and the data reads back voxel-exact through the scan
    val (vol, i2) = CziSource.volume(path, "s1", Array(8, 16, 16))
    val chunks = CziSource.scan(spark, path, vol, i2).collect()
    assert(chunks.length == 1)
    val px = chunks(0).pixels
    assert(px(17) == SyntheticStack.value(0, 1, 1))
  }

  test("multi-view CZI is rejected loudly; unknown axes fail even when singleton") {
    val dir = Files.createTempDirectory("czi-axes").toString
    // views alternate per z-slice: axis V spans [0, 2) — views re-image
    // the SAME volume, so folding them is data corruption, not stitching
    val pathV = s"$dir/v2.czi"
    SyntheticCzi.writeChannels(pathV, Array(synth(8, 16, 16)),
      extraDims = (_, z) => Seq(("V", z % 2, 1)))
    val eV = intercept[UnsupportedOperationException] { CziReader.index(pathV) }
    assert(eV.getMessage.contains("'V'") && eV.getMessage.contains("[0, 2)"), eV.getMessage)

    // an axis outside the tolerated vocabulary fails even when singleton
    val pathQ = s"$dir/q.czi"
    SyntheticCzi.writeChannels(pathQ, Array(synth(4, 8, 8)),
      extraDims = (_, _) => Seq(("Q", 0, 1)))
    val eQ = intercept[IllegalArgumentException] { CziReader.index(pathQ) }
    assert(eQ.getMessage.contains("Q"), eQ.getMessage)
  }

  test("mosaic CZI: M tiles stitch by Y/X start into one plane, voxel-exact") {
    val dir = Files.createTempDirectory("czi-mosaic").toString
    val path = s"$dir/mosaic.czi"
    // 2x2 tile grid of 8x8 tiles over a 16x16 plane, 2 z-slices; the
    // global value grid is cut into positioned tiles so any placement
    // slip (transposed offsets, ignored starts) changes read-back values
    val nz = 2; val tile = 8; val plane = 16
    val tiles = for {
      z <- 0 until nz
      my <- 0 until 2
      mx <- 0 until 2
    } yield SyntheticCzi.Tile(
      dims = Seq(("X", mx * tile, tile), ("Y", my * tile, tile), ("Z", z, 1),
        ("C", 0, 1), ("M", my * 2 + mx, 1)),
      pixels = Array.tabulate(tile * tile) { i =>
        SyntheticStack.value(z, my * tile + i / tile, mx * tile + i % tile)
      },
      compression = if ((my + mx) % 2 == 0) CziFormat.CompressionNone
                    else CziFormat.CompressionZstd0)
    SyntheticCzi.writeTiles(path, tiles)
    val idx = CziReader.index(path)
    assert(idx.shape.toSeq == Seq(1L, 1L, nz.toLong, plane.toLong, plane.toLong))
    val (vol, i2) = CziSource.volume(path, "mosaic", Array(nz, plane, plane))
    val chunks = CziSource.scan(spark, path, vol, i2).collect()
    assert(chunks.length == 1)
    val px = chunks(0).pixels
    for (z <- 0 until nz; y <- 0 until plane; x <- 0 until plane)
      assert(px(z * plane * plane + y * plane + x) ==
        SyntheticStack.value(z, y, x), s"($z,$y,$x)")
  }

  test("multi-scene CZI: scenes stitch into the padded bounding box; pyramid subblocks skipped") {
    val dir = Files.createTempDirectory("czi-scene").toString
    val path = s"$dir/scenes.czi"
    // scene 0 at stage (Y=0, X=100), scene 1 at (Y=0, X=120): a 12-wide
    // X gap between them must stay zero-filled; stage offsets exercise
    // the nominal-origin subtraction (`utils.py:272` dir_start)
    val sceneVal = (s: Int, z: Int, y: Int, x: Int) =>
      (SyntheticStack.value(z, y, x) + 5000 * s) & 0xFFFF
    val sceneTiles = for {
      s <- 0 until 2
      z <- 0 until 2
    } yield SyntheticCzi.Tile(
      dims = Seq(("X", 100 + s * 20, 8), ("Y", 0, 8), ("Z", z, 1),
        ("C", 0, 1), ("S", s, 1)),
      pixels = Array.tabulate(64)(i => sceneVal(s, z, i / 8, i % 8)))
    // plus a reduced-resolution (pyramid) subblock covering the whole
    // plane — czifile's filtered_subblock_directory drops these; if it
    // leaked into placement it would overwrite scene 1's pixels
    val pyramid = SyntheticCzi.Tile(
      dims = Seq(("X", 100, 28), ("Y", 0, 8), ("Z", 0, 1), ("C", 0, 1)),
      pixels = Array.fill(4 * 14)(0xBEEF & 0xFFFF),
      stored = Map("X" -> 14, "Y" -> 4))
    SyntheticCzi.writeTiles(path, sceneTiles :+ pyramid)
    val idx = CziReader.index(path)
    // X extent: [100, 128) -> width 28; origin 100
    assert(idx.shape.toSeq == Seq(1L, 1L, 2L, 8L, 28L))
    val (vol, i2) = CziSource.volume(path, "scenes", Array(2, 8, 28))
    val chunks = CziSource.scan(spark, path, vol, i2).collect()
    assert(chunks.length == 1)
    val px = chunks(0).pixels
    def at(z: Int, y: Int, x: Int) = px(z * 8 * 28 + y * 28 + x)
    for (z <- 0 until 2; y <- 0 until 8; x <- 0 until 8) {
      assert(at(z, y, x) == sceneVal(0, z, y, x), s"scene0 ($z,$y,$x)")
      assert(at(z, y, 20 + x) == sceneVal(1, z, y, x), s"scene1 ($z,$y,$x)")
    }
    // the inter-scene gap is padding, and the pyramid block never landed
    for (z <- 0 until 2; y <- 0 until 8; x <- 8 until 20)
      assert(at(z, y, x) == 0, s"gap ($z,$y,$x)")
  }

  /** `nz` synthetic n x n planes, one subblock each, with `compression`. */
  private def planes(nz: Int, n: Int, compression: Int): Seq[SyntheticCzi.Tile] =
    for (z <- 0 until nz) yield SyntheticCzi.Tile(
      dims = Seq(("X", 0, n), ("Y", 0, n), ("Z", z, 1), ("C", 0, 1)),
      pixels = Array.tabulate(n * n)(i => SyntheticStack.value(z, i / n, i % n)),
      compression = compression)

  test("JPEG-XR CZI: fails with transcode remediation, or resolves to the sidecar voxel-exact") {
    val dir = Files.createTempDirectory("czi-jxr").toString
    val path = s"$dir/jx.czi"
    val nz = 2; val n = 8
    SyntheticCzi.writeTiles(path, planes(nz, n, CziFormat.CompressionJpgXr))

    // no sidecar: planning-time failure naming the remediation path
    val e = intercept[UnsupportedOperationException] { CziSource.resolveInput(path) }
    assert(e.getMessage.contains("jx.transcoded.czi") &&
      e.getMessage.contains("czicompress"), e.getMessage)

    // a scan that bypasses planning fails in the decode, naming JPEG-XR
    val (jvol, jidx) = CziSource.volume(path, "jx", Array(nz, n, n))
    val eScan = intercept[Exception] { CziSource.scan(spark, path, jvol, jidx).collect() }
    val decodeFailure = Iterator.iterate[Throwable](eScan)(_.getCause).takeWhile(_ != null)
      .collectFirst { case u: UnsupportedOperationException => u }
    assert(decodeFailure.exists(_.getMessage.contains("JPEG-XR")), eScan)

    // a shape-mismatched sidecar is rejected, not silently trusted
    val sidecar = s"$dir/jx.transcoded.czi"
    SyntheticCzi.writeTiles(sidecar, Seq(SyntheticCzi.Tile(
      dims = Seq(("X", 0, 4), ("Y", 0, 4), ("Z", 0, 1), ("C", 0, 1)),
      pixels = Array.fill(16)(1))))
    val eBad = intercept[IllegalArgumentException] { CziSource.resolveInput(path) }
    assert(eBad.getMessage.contains("disagrees"), eBad.getMessage)

    // a valid transcode sidecar resolves, and the whole pipeline reads it:
    // the scan sees the zstd pixels voxel-exact through the ORIGINAL path
    SyntheticCzi.writeTiles(sidecar, planes(nz, n, CziFormat.CompressionZstd0))
    val (resolved, _) = CziSource.resolveInput(path)
    assert(resolved == sidecar)
    val (vol, idx) = CziSource.volume(resolved, "jx", Array(nz, n, n))
    val chunks = CziSource.scan(spark, resolved, vol, idx).collect()
    assert(chunks.length == 1)
    val px = chunks(0).pixels
    for (z <- 0 until nz; y <- 0 until n; x <- 0 until n)
      assert(px(z * n * n + y * n + x) == SyntheticStack.value(z, y, x), s"($z,$y,$x)")
    // and the DSv2 connector resolves transparently from the original path
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", nz.toString).option("chunk_y", n.toString)
      .option("chunk_x", n.toString).load()
    assert(df.count() == 1L)
  }

  test("ZeissJob on a JPEG-XR stack and its transcode sidecar writes one stack, voxel-exact") {
    val root = Files.createTempDirectory("zeiss-jxr").toString
    new java.io.File(s"$root/in/SPIM").mkdirs()
    val nz = 2; val n = 8
    SyntheticCzi.writeTiles(s"$root/in/SPIM/jx.czi", planes(nz, n, CziFormat.CompressionJpgXr))
    SyntheticCzi.writeTiles(s"$root/in/SPIM/jx.transcoded.czi", planes(nz, n, CziFormat.CompressionZstd0))
    assert(ZeissJob.discoverStacks(s"$root/in").map(new java.io.File(_).getName) == Seq("jx.czi"))
    val resp = ZeissJob.run(spark, ZeissJob.Settings(s"$root/in", s"$root/out",
      chunkSize = Array(nz, n, n), downsampleLevels = 1))
    assert(resp.statusCode == 200, resp.message)
    assert(resp.message.startsWith("converted 1 stacks"), resp.message)
    val stacks = new java.io.File(s"$root/out").listFiles().filter(_.isDirectory).map(_.getName)
    assert(stacks.toSeq == Seq("jx"), stacks.mkString(", "))
    val l0 = ZarrStore.read(spark, s"$root/out", "jx", 0)
    assert(l0.length == 1)
    val px = l0(0).pixels
    for (z <- 0 until nz; y <- 0 until n; x <- 0 until n)
      assert(px(z * n * n + y * n + x) == SyntheticStack.value(z, y, x), s"($z,$y,$x)")
  }

  test("subblocks spanning several timepoints are rejected, singleton T squeezes") {
    val dir = Files.createTempDirectory("czi-taxis").toString
    // a subblock claiming T size 2 would need a T-major de-interleave the
    // placement kernel doesn't do — loud reject, never a silent fold
    val pathT = s"$dir/tspan.czi"
    SyntheticCzi.writeChannels(pathT, Array(synth(8, 16, 16)),
      extraDims = (_, _) => Seq(("T", 0, 2)))
    val eT = intercept[UnsupportedOperationException] { CziReader.index(pathT) }
    assert(eT.getMessage.contains("timepoints"), eT.getMessage)

    // an explicit singleton T entry squeezes away like the reference's pad
    val path1 = s"$dir/t1.czi"
    SyntheticCzi.writeChannels(path1, Array(synth(4, 8, 8)),
      extraDims = (_, _) => Seq(("T", 0, 1)))
    val idx = CziReader.index(path1)
    assert(idx.shape.toSeq == Seq(1L, 1L, 4L, 8L, 8L))
  }

  test("multi-timepoint CZI: per-frame voxel-exact chunks, both scan variants") {
    val dir = Files.createTempDirectory("czi-mt").toString
    val path = s"$dir/mt.czi"
    // frame (t, c) holds value(z,y,x) + 3000t + 1000c — catches any
    // cross-frame mixup in either scan
    val frames = Array.tabulate(2, 2, 10, 20, 20)((t, c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeTC(path, frames)
    val (vol, idx) = CziSource.volume(path, "mt", Array(8, 16, 16))
    assert(vol.shape.toSeq == Seq(2, 2, 10, 20, 20))

    val slab = CziSource.scan(spark, path, vol, idx).collect()
    assert(slab.length == 2 * 2 * 2 * 2 * 2)
    assert(slab.map(_.t).distinct.sorted.toSeq == Seq(0, 1))
    slab.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        val expect = (SyntheticStack.value(ck.z * 8 + z, ck.y * 16 + y, ck.x * 16 + x)
          + 3000 * ck.t + 1000 * ck.c) & 0xFFFF
        assert(px(z * sy * sx + y * sx + x) == expect,
          s"chunk(t=${ck.t},c=${ck.c},${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }

    assertSameChunks(slab, splitScans(path, vol, idx, perRun = 1))
  }

  test("zstd1 decode: plain header and hi-lo byte-packed payloads") {
    val e = CziFormat.SubBlockEntry(0L, CziFormat.PixelGray16, CziFormat.CompressionZstd1,
      Map("X" -> CziFormat.DimEntry("X", 0, 4, 4), "Y" -> CziFormat.DimEntry("Y", 0, 2, 2)))
    val pixels: Array[Byte] =
      Array(0x01, 0x10, 0x02, 0x20, 0x03, 0x30, 0x04, 0x40,
            0x05, 0x50, 0x06, 0x60, 0x07, 0x70, 0x08, 0x80.toByte).map(_.toByte)
    // plain: 1-byte header, stream is the interleaved pixels
    val plain = Array[Byte](1) ++ com.github.luben.zstd.Zstd.compress(pixels, 3)
    assert(CziReader.decode(plain, e).sameElements(pixels))
    // hi-lo packed: 3-byte header with bit 0 of byte 2 set; stream is
    // low-byte plane then high-byte plane
    val packed = graft.core.Blosc.shuffle(pixels, 2)
    val hiLo = Array[Byte](3, 1, 1) ++ com.github.luben.zstd.Zstd.compress(packed, 3)
    assert(CziReader.decode(hiLo, e).sameElements(pixels))
    // hi-lo flag not set in a 3-byte header -> no unpack
    val noFlag = Array[Byte](3, 1, 0) ++ com.github.luben.zstd.Zstd.compress(pixels, 3)
    assert(CziReader.decode(noFlag, e).sameElements(pixels))
  }

  test("distributed scan produces voxel-exact chunks incl. clamped edges") {
    val dir = Files.createTempDirectory("czi").toString
    val path = s"$dir/t.czi"
    SyntheticCzi.write(path, synth(12, 40, 40))
    val (vol, idx) = CziSource.volume(path, "t", Array(8, 32, 32))
    assert(vol.numChunks == 2 * 2 * 2) // z: ceil(12/8)=2, y/x: ceil(40/32)=2
    val chunks = CziSource.scan(spark, path, vol, idx).collect()
    assert(chunks.length == 8)
    chunks.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        val v = px(z * sy * sx + y * sx + x)
        val expect = SyntheticStack.value(ck.z * 8 + z, ck.y * 32 + y, ck.x * 32 + x)
        assert(v == expect, s"chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }
    // edge chunks clamp: z=1 has depth 4, y=1/x=1 have 8
    val edge = chunks.find(c => c.z == 1 && c.y == 1 && c.x == 1).get
    assert(edge.shape.toSeq == Seq(1, 1, 4, 8, 8))
  }

  test("tile-run scans produce identical chunks to the whole-slab scan") {
    val dir = Files.createTempDirectory("czi").toString
    val path = s"$dir/t.czi"
    SyntheticCzi.write(path, synth(12, 40, 40))
    val (vol, idx) = CziSource.volume(path, "t", Array(8, 32, 32))
    assert(CziSource.tileRuns(vol, CziSource.MaxTaskBytes).count == 1)
    assertSameChunks(CziSource.scan(spark, path, vol, idx).collect(),
      splitScans(path, vol, idx, perRun = 1))
  }

  test("overlapping mosaic tiles: last in directory order wins in both scans and format(czi)") {
    val dir = Files.createTempDirectory("czi-overlap").toString
    val path = s"$dir/overlap.czi"
    // four 12x12 tiles at Y/X starts {0, 8} over a 20x20 plane overlap in
    // 4-wide bands; each carries its own offset, and the directory lists
    // them out of spatial order, so a scan that copies pieces in any
    // order but the directory's changes a band voxel
    val (nz, tile, plane) = (2, 12, 20)
    val order = Seq(3, 0, 2, 1)
    val tileVal = (m: Int, z: Int, y: Int, x: Int) =>
      (SyntheticStack.value(z, y, x) + 1000 * (m + 1)) & 0xFFFF
    val tiles = for (z <- 0 until nz; m <- order) yield {
      val (y0, x0) = (m / 2 * 8, m % 2 * 8)
      SyntheticCzi.Tile(
        dims = Seq(("X", x0, tile), ("Y", y0, tile), ("Z", z, 1), ("C", 0, 1), ("M", m, 1)),
        pixels = Array.tabulate(tile * tile)(i => tileVal(m, z, y0 + i / tile, x0 + i % tile)))
    }
    SyntheticCzi.writeTiles(path, tiles)
    val want = new Array[Int](nz * plane * plane)
    for (z <- 0 until nz; m <- order; y <- m / 2 * 8 until m / 2 * 8 + tile;
         x <- m % 2 * 8 until m % 2 * 8 + tile)
      want(z * plane * plane + y * plane + x) = tileVal(m, z, y, x)

    val (vol, idx) = CziSource.volume(path, "overlap", Array(nz, 8, 8))
    assert(vol.shape.toSeq == Seq(1L, 1L, nz.toLong, plane.toLong, plane.toLong))
    def byCoord(cks: Array[graft.core.ZarrChunk]) = cks.map(c => (c.z, c.y, c.x) -> c).toMap
    val slab = byCoord(CziSource.scan(spark, path, vol, idx).collect())
    assert(slab.size == 9)
    slab.values.foreach { ck =>
      val px = ck.pixels
      val (sy, sx) = (ck.shape(3), ck.shape(4))
      for (z <- 0 until nz; y <- 0 until sy; x <- 0 until sx)
        assert(px(z * sy * sx + y * sx + x) ==
          want(z * plane * plane + (ck.y * 8 + y) * plane + ck.x * 8 + x),
          s"slab chunk (${ck.y},${ck.x}) voxel ($z,$y,$x)")
    }
    import spark.implicits._
    val connector = spark.read.format("czi").option("path", path)
      .option("chunk_z", nz.toString).option("chunk_y", "8").option("chunk_x", "8")
      .load().as[graft.core.ZarrChunk].collect()
    // 9 tiles in runs of 2: runs 1 and 3 start inside a tile row
    assertSameChunks(slab.values.toArray,
      ("format(czi)" -> connector) +: splitScans(path, vol, idx, perRun = 2))
  }

  test("multi-channel CZI: per-channel voxel-exact chunks, both scan variants") {
    val dir = Files.createTempDirectory("czi-mc").toString
    val path = s"$dir/mc.czi"
    // channel c holds value(z,y,x) + 1000c — catches any cross-channel mixup
    val chans = Array.tabulate(3, 10, 20, 20)((c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeChannels(path, chans)
    val (vol, idx) = CziSource.volume(path, "mc", Array(8, 16, 16))
    assert(vol.shape.toSeq == Seq(1, 3, 10, 20, 20))
    assert(vol.numChunks == 3 * 2 * 2 * 2)

    val slab = CziSource.scan(spark, path, vol, idx).collect()
    assert(slab.length == 24)
    assert(slab.map(_.c).distinct.sorted.toSeq == Seq(0, 1, 2))
    slab.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        val expect = (SyntheticStack.value(ck.z * 8 + z, ck.y * 16 + y, ck.x * 16 + x)
          + 1000 * ck.c) & 0xFFFF
        assert(px(z * sy * sx + y * sx + x) == expect,
          s"chunk(c=${ck.c},${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }

    assertSameChunks(slab, splitScans(path, vol, idx, perRun = 1))
  }

  test("tile runs: a slab that fits is one run; a larger plane splits into runs of whole chunks") {
    def runs(zyx: Seq[Long], chunk: Seq[Int], bound: Long = CziSource.MaxTaskBytes) =
      CziSource.tileRuns(Volume("r", 0, Array(1L, 1L) ++ zyx, Array(1, 1) ++ chunk, PixelDtype.U16), bound)
    // convert_large's slab: 512^2 x 128 u16 is 64 MiB, 16 tiles
    assert(runs(Seq(512, 512, 512), Seq(128, 128, 128)) == CziSource.TileRuns(16, 16))
    // 2049^2 x 128 u16 is just over 1 GiB: 17^2 = 289 tiles of 4 MiB, 256 a run
    val plane = runs(Seq(256, 2049, 2049), Seq(128, 128, 128))
    assert(plane == CziSource.TileRuns(289, 256) && plane.count == 2)
    assert(plane(1) == (256 until 289))
    // a chunk over the bound (600x1024x1024 u16, 1.2 GiB) is a run by itself
    val big = runs(Seq(600, 2048, 2048), Seq(600, 1024, 1024))
    assert(big.perRun == 1 && big.count == 4)
    // the runs of any bound cover every tile exactly once, in order, and
    // none holds more than perRun tiles
    for (zyx <- Seq(Seq(8L, 40L, 40L), Seq(8L, 33L, 65L), Seq(8L, 16L, 16L));
         bound <- Seq(1L, 512L, 1024L, 2048L, 4096L, 1L << 20)) {
      val r = runs(zyx, Seq(8, 16, 16), bound)
      val all = (0 until r.count).map(r(_))
      assert(all.flatten == (0 until r.tiles), s"$zyx bound $bound: $r")
      assert(all.forall(t => t.nonEmpty && t.size <= r.perRun), s"$zyx bound $bound: $r")
    }
  }

  test("a split level 0 feeds Pyramid.build in one pass: 2 jobs, 2 stages, one exchange; levels exact") {
    val dir = Files.createTempDirectory("czi-split-pyr").toString
    val path = s"$dir/sp.czi"
    SyntheticCzi.write(path, synth(32, 32, 32))
    val (vol, idx) = CziSource.volume(path, "sp", Array(16, 16, 16))
    // one tile per run: 2 slabs x 4 runs
    val bound = vol.chunk.map(_.toLong).product * vol.dtype.itemSize
    assert(CziSource.tileRuns(vol, bound).count == 4)
    val level0 = CziSource.scan(spark, path, vol, idx, bound)
    assertOracleLevels(level0.collect().toSeq, vol, 3, 0 until 1)
    val all = Pyramid.build(spark, level0, vol, 3)._2
    var levels = Array.empty[ZarrChunk]
    val execs = Census.measure(spark) { levels = all.collect() }
    assert(execs.map(_.jobs).sum == 2, execs)
    assert(execs.map(_.stages).sum == 2, execs)
    assert(execs.map(_.nodes("ShuffleExchange")).sum == 1, execs)
    assertOracleLevels(levels.toSeq, vol, 3, 1 until 3)
  }

  test("multi-channel CZI end-to-end: per-channel pyramid, zarr, omero channels") {
    val root = Files.createTempDirectory("czi-mc-e2e").toString
    val chans = Array.tabulate(2, 16, 16, 16)((c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeChannels(s"$root/mc.czi", chans)
    val settings = ZeissJob.Settings(
      inputSource = root, outputDirectory = s"$root/out",
      chunkSize = Array(8, 8, 8), downsampleLevels = 2)
    val vol = ZeissJob.convertStack(spark, s"$root/mc.czi", s"$root/out",
      settings, Seq(1.0, 1.0, 1.0))
    assert(vol.shape.toSeq == Seq(1, 2, 16, 16, 16))

    // two omero channel entries in the stack .zattrs
    val attrs = Files.readString(java.nio.file.Paths.get(s"$root/out/mc/.zattrs"))
    assert(attrs.contains("\"ch0\"") && attrs.contains("\"ch1\""), attrs)

    // level 1: halved per channel, values = per-channel 2x2x2 means
    val l1 = ZarrStore.read(spark, s"$root/out", "mc", 1)
    assert(l1.map(_.c).distinct.sorted.toSeq == Seq(0, 1))
    l1.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        var sum = 0L
        for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
          sum += (SyntheticStack.value((ck.z * 8 + z) * 2 + dz, (ck.y * 8 + y) * 2 + dy,
            (ck.x * 8 + x) * 2 + dx) + 1000 * ck.c) & 0xFFFF
        assert(px(z * sy * sx + y * sx + x) == (sum / 8).toInt,
          s"c=${ck.c} chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }
  }

  test("multi-timepoint CZI end-to-end: per-frame pyramid and zarr") {
    val root = Files.createTempDirectory("czi-mt-e2e").toString
    val frames = Array.tabulate(2, 2, 16, 16, 16)((t, c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeTC(s"$root/mt.czi", frames)
    val settings = ZeissJob.Settings(
      inputSource = root, outputDirectory = s"$root/out",
      chunkSize = Array(8, 8, 8), downsampleLevels = 2)
    val vol = ZeissJob.convertStack(spark, s"$root/mt.czi", s"$root/out",
      settings, Seq(1.0, 1.0, 1.0))
    assert(vol.shape.toSeq == Seq(2, 2, 16, 16, 16))

    // level 1: halved per (t, c) frame, values = per-frame 2x2x2 means
    val l1 = ZarrStore.read(spark, s"$root/out", "mt", 1)
    assert(l1.map(ck => (ck.t, ck.c)).distinct.sorted.toSeq ==
      Seq((0, 0), (0, 1), (1, 0), (1, 1)))
    l1.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        var sum = 0L
        for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
          sum += (SyntheticStack.value((ck.z * 8 + z) * 2 + dz, (ck.y * 8 + y) * 2 + dy,
            (ck.x * 8 + x) * 2 + dx) + 3000 * ck.t + 1000 * ck.c) & 0xFFFF
        assert(px(z * sy * sx + y * sx + x) == (sum / 8).toInt,
          s"t=${ck.t} c=${ck.c} chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }
  }

  test("end-to-end ZeissJob: SPIM discovery -> CZI -> multiscale zarr") {
    val root = Files.createTempDirectory("zeiss").toString
    val spim = new java.io.File(s"$root/in/SPIM"); spim.mkdirs()
    SyntheticCzi.write(s"$root/in/SPIM/stack1.czi", synth(16, 32, 32))
    Files.writeString(java.nio.file.Paths.get(s"$root/in/acquisition.json"),
      """{"tiles":[{"coordinate_transformations":[
        |{"type":"scale","scale":["0.5","0.25","2.0"]},
        |{"type":"translation","translation":[0,0,0]}]}]}""".stripMargin)

    val deriv = new java.io.File(s"$root/in/derivatives"); deriv.mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$root/in/derivatives/meta.txt"), "hello")

    val settings = ZeissJob.Settings(
      inputSource = s"$root/in",
      outputDirectory = s"$root/out",
      chunkSize = Array(8, 16, 16),
      downsampleLevels = 2)
    val resp = ZeissJob.run(spark, settings)
    assert(resp.statusCode == 200, resp.message)

    // derivatives/ copied once by the driver (zeiss_job.py:187-205)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$root/out/derivatives/meta.txt")) == "hello")

    // voxel resolution came through [z,y,x] = [2.0, 0.25, 0.5]
    val vr = ZeissJob.voxelResolution(s"$root/in/acquisition.json")
    assert(vr == Seq(2.0, 0.25, 0.5))

    // level 0 round-trips voxel-exact through Blosc/Zarr
    val l0 = ZarrStore.read(spark, s"$root/out", "stack1", 0)
    assert(l0.map(_.numVoxels).sum == 16 * 32 * 32)
    l0.foreach { ck =>
      val px = ck.pixels
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx)
        assert(px(z * sy * sx + y * sx + x) ==
          SyntheticStack.value(ck.z * 8 + z, ck.y * 16 + y, ck.x * 16 + x))
    }

    // level 1 exists with halved shape
    val shape1 = ZarrIO.readZarray(s"$root/out", "stack1", 1).shape
    assert(shape1.toSeq == Seq(1L, 1L, 8L, 16L, 16L))
    val l1 = ZarrStore.read(spark, s"$root/out", "stack1", 1)
    assert(l1.map(_.numVoxels).sum == 8 * 16 * 16)
    // spot-check one level-1 voxel against the analytic 2x2x2 mean
    val c0 = l1.find(c => c.z == 0 && c.y == 0 && c.x == 0).get
    var sum = 0L
    for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
      sum += SyntheticStack.value(dz, dy, dx)
    assert(c0.pixels(0) == (sum / 8).toInt)
  }

  test("ZeissJob without acquisition.json converts with unit voxel scale") {
    val root = Files.createTempDirectory("zeiss-noacq").toString
    new java.io.File(s"$root/in/SPIM").mkdirs()
    SyntheticCzi.write(s"$root/in/SPIM/s.czi", synth(8, 16, 16))
    val resp = ZeissJob.run(spark, ZeissJob.Settings(s"$root/in", s"$root/out",
      chunkSize = Array(8, 16, 16), downsampleLevels = 1))
    assert(resp.statusCode == 200, resp.message)
    val attrs = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Paths.get(s"$root/out/s/.zattrs")))
    val scale = attrs.get("multiscales").get(0).get("datasets").get(0)
      .get("coordinateTransformations").get(0).get("scale")
    assert((0 until 5).map(scale.get(_).asDouble) == Seq(1.0, 1.0, 1.0, 1.0, 1.0), scale)
  }

  test("ZeissJob with a malformed acquisition.json fails naming the file") {
    val root = Files.createTempDirectory("zeiss-badacq").toString
    new java.io.File(s"$root/in/SPIM").mkdirs()
    SyntheticCzi.write(s"$root/in/SPIM/s.czi", synth(8, 16, 16))
    val settings = ZeissJob.Settings(s"$root/in", s"$root/out",
      chunkSize = Array(8, 16, 16), downsampleLevels = 1)
    val acq = java.nio.file.Paths.get(s"$root/in/acquisition.json")
    // not JSON, then JSON without a scale transform
    for (body <- Seq("{not json", """{"tiles":[{"coordinate_transformations":[]}]}""")) {
      Files.writeString(acq, body)
      val e = intercept[IllegalArgumentException](ZeissJob.run(spark, settings))
      assert(e.getMessage.contains(s"$root/in/acquisition.json"), e.getMessage)
    }
    assert(!new java.io.File(s"$root/out/s").exists(), "a stack was written with a guessed scale")
  }

  test("derivatives copy writes no Hadoop .crc sidecars, even on an uncached filesystem") {
    val root = Files.createTempDirectory("zeiss-deriv")
    Files.createDirectories(root.resolve("in/derivatives/sub"))
    Files.writeString(root.resolve("in/derivatives/meta.txt"), "hello")
    Files.writeString(root.resolve("in/derivatives/sub/more.txt"), "more")
    // a fresh LocalFileSystem per lookup: the copy cannot inherit a cached
    // instance whose checksum writing some other code already disabled
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    assert(ZeissJob.uploadDerivatives(s"$root/in", s"$root/out", conf))
    val s = Files.walk(root.resolve("out/derivatives"))
    val files = try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_)).map(p => root.resolve("out/derivatives").relativize(p).toString)
      .sorted.toSeq finally s.close()
    assert(files == Seq("meta.txt", "sub/more.txt"), files)
  }

  test("multi-stack: both outputs voxel-exact for every stack; timed only on >= 8 cores") {
    val root = Files.createTempDirectory("zeiss-par").toString
    val spim = new java.io.File(s"$root/in/SPIM"); spim.mkdirs()
    for (i <- 1 to 4)
      SyntheticCzi.write(s"$root/in/SPIM/st$i.czi", synth(16, 32, 32))
    val stacks = ZeissJob.discoverStacks(s"$root/in")
    assert(stacks.size == 4)
    val voxel = Seq(1.0, 1.0, 1.0)
    def settings(out: String) = ZeissJob.Settings(
      inputSource = s"$root/in", outputDirectory = out,
      chunkSize = Array(8, 16, 16), downsampleLevels = 2)

    // parallel FIRST: JIT/code-cache warm-up then favors the sequential
    // run, so a parallel win is not a warm-up artifact. Parallel is one
    // action over every stack, sequential one action per stack.
    val t2 = System.nanoTime()
    ZeissJob.convertAll(spark, stacks, s"$root/par", settings(s"$root/par"), voxel)
    val parS = (System.nanoTime() - t2) / 1e9

    val t1 = System.nanoTime()
    stacks.foreach(st => ZeissJob.convertStack(spark, st, s"$root/seq", settings(s"$root/seq"), voxel))
    val seqS = (System.nanoTime() - t1) / 1e9

    info(f"parallel $parS%.2f s, sequential $seqS%.2f s")
    // wall-clock comparison only where the overlap can actually win;
    // correctness assertions below hold regardless
    if (Runtime.getRuntime.availableProcessors >= 8)
      assert(parS < seqS, f"parallel ($parS%.2f s) not faster than sequential ($seqS%.2f s)")

    // both outputs complete and voxel-exact for every stack: every level-0
    // chunk file exists (ZarrStore.read) and holds the generator's values,
    // so stacks that clobbered or skipped each other's chunks fail here
    for (st <- Seq("st1", "st2", "st3", "st4"); out <- Seq("seq", "par")) {
      val l0 = ZarrStore.read(spark, s"$root/$out", st, 0)
      assert(l0.map(_.numVoxels).sum == 16 * 32 * 32, s"$out/$st")
      l0.foreach { ck =>
        val px = ck.pixels
        for (z <- 0 until 8; y <- 0 until 16; x <- 0 until 16)
          assert(px(z * 256 + y * 16 + x) ==
            SyntheticStack.value(ck.z * 8 + z, ck.y * 16 + y, ck.x * 16 + x),
            s"$out/$st chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }
  }

  test("Gray8 CZI end-to-end: u8 dtype through scan, pyramid, and zarr") {
    import graft.core.{PixelCodec, PixelDtype}
    val root = Files.createTempDirectory("czi-u8").toString
    val data = Array.tabulate(16, 24, 24)((z, y, x) => (z * 7 + y * 3 + x) % 256)
    SyntheticCzi.write(s"$root/u8.czi", data, CziFormat.PixelGray8)
    val (vol, idx) = CziSource.volume(s"$root/u8.czi", "u8", Array(8, 8, 8))
    assert(vol.dtype == PixelDtype.U8)
    val chunks = CziSource.scan(spark, s"$root/u8.czi", vol, idx).collect()
    chunks.foreach { ck =>
      val px = PixelCodec.u8ToInts(ck.data)
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx)
        assert(px(z * sy * sx + y * sx + x) ==
          data(ck.z * 8 + z)(ck.y * 8 + y)(ck.x * 8 + x))
    }
    // pyramid + zarr with |u1 dtype
    val l0 = CziSource.scan(spark, s"$root/u8.czi", vol, idx)
    ZarrIO.writeMetadata(s"$root/out", vol, nLevels = 2)
    ZarrStore.write(l0, s"$root/out")
    ZarrStore.write(graft.operators.Pyramid.build(spark, l0, vol, nLevels = 2)._2, s"$root/out")
    assert(ZarrIO.readZarray(s"$root/out", "u8", 0).dtype == PixelDtype.U8)
    val l1 = ZarrStore.read(spark, s"$root/out", "u8", 1)
    assert(l1.map(_.data.length).sum == 8 * 12 * 12)
    // corner voxel = floor mean of the 2x2x2 corner
    val c0 = l1.find(c => c.z == 0 && c.y == 0 && c.x == 0).get
    var sum = 0L
    for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
      sum += data(dz)(dy)(dx)
    assert(PixelCodec.u8ToInts(c0.data)(0) == (sum / 8).toInt)
  }

  test("Gray32Float CZI: float voxels voxel-exact through the scan") {
    val dir = Files.createTempDirectory("czi-f32").toString
    val path = s"$dir/f32.czi"
    SyntheticCzi.write(path, synth(8, 16, 16), CziFormat.PixelGray32Float)
    val (vol, idx) = CziSource.volume(path, "f32", Array(4, 8, 8))
    assert(vol.dtype == graft.core.PixelDtype.F32)
    val chunks = CziSource.scan(spark, path, vol, idx).collect()
    assert(chunks.length == 2 * 2 * 2)
    chunks.foreach { ck =>
      val px = graft.core.PixelCodec.f32ToFloats(ck.data)
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx)
        assert(px(z * sy * sx + y * sx + x) ==
          SyntheticStack.value(ck.z * 4 + z, ck.y * 8 + y, ck.x * 8 + x).toFloat,
          s"chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
    }

    // end-to-end: float pyramid level 1 = double-accumulated 2x2x2 means
    val out = s"$dir/out"
    val settings = ZeissJob.Settings(
      inputSource = dir, outputDirectory = out,
      chunkSize = Array(4, 8, 8), downsampleLevels = 2)
    ZeissJob.convertStack(spark, path, out, settings, Seq(1.0, 1.0, 1.0))
    val l1 = ZarrStore.read(spark, out, "f32", 1)
    assert(l1.nonEmpty)
    l1.foreach { ck =>
      val px = graft.core.PixelCodec.f32ToFloats(ck.data)
      val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
      for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
        var sum = 0.0
        for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
          sum += SyntheticStack.value((ck.z * 4 + z) * 2 + dz, (ck.y * 8 + y) * 2 + dy,
            (ck.x * 8 + x) * 2 + dx).toFloat
        assert(px(z * sy * sx + y * sx + x) == (sum / 8).toFloat,
          s"l1 chunk(${ck.z},${ck.y},${ck.x}) voxel($z,$y,$x)")
      }
    }
  }

  test("decode rejects unsupported compression") {
    val e = CziFormat.SubBlockEntry(0L, CziFormat.PixelGray16, CziFormat.CompressionJpgXr,
      Map("X" -> CziFormat.DimEntry("X", 0, 2, 2)))
    intercept[UnsupportedOperationException] {
      CziReader.decode(Array[Byte](1, 2, 3, 4), e)
    }
  }
}
