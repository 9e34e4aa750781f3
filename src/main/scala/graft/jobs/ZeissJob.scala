package graft.jobs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{Volume, ZarrChunk}
import graft.io.zarr.{ZarrDataWriter, ZarrIO}
import graft.operators.Pyramid
import graft.sources.czi.CziSource

/** End-to-end CZI -> multiscale OME-Zarr job (reference orchestration O1/O3,
  * `zeiss_job.py:103-226` + `czi_to_zarr.py:457-658`).
  *
  * A whole job is one Spark action. Per stack, the driver writes the
  * OME-NGFF metadata and builds a lazy plan: each CZI slab task cuts its
  * level-0 chunks, commits each one right there and hands it on to the
  * map side of [[graft.operators.Pyramid.build]] (one map pass, one
  * exchange), whose reduce tasks commit levels 1.. the same way. The
  * stacks' plans are unioned and drained by one `foreach`.
  * `ZarrDataWriter.put` is the only code that encodes and commits chunks;
  * its codec is the one the metadata declares.
  *
  * What disappears relative to the reference: static round-robin node
  * partitioning (P1/P2, `zeiss_job.py:29-60` + SLURM scripts) — the Spark
  * scheduler owns task placement, of every stack at once; the superblock
  * write batching (K2/X4) — adaptive execution sizes the pyramid's reduce
  * tasks; the `aws s3 sync` subprocess (K6) — outputs write straight to
  * any Hadoop-FS URI including `s3a://`; the GIL-driven thread tuning
  * (X7) — tasks are the parallelism unit.
  */
object ZeissJob {

  /** Job settings mirroring the reference's pydantic model
    * (`models.py:23-81`, defaults preserved). */
  final case class Settings(
      inputSource: String,
      outputDirectory: String,
      s3Location: Option[String] = None,
      chunkSize: Array[Int] = Array(128, 128, 128),
      scaleFactor: Array[Int] = Array(2, 2, 2),
      downsampleLevels: Int = 4,
      compressorLevel: Int = 3) {
    // settings come from outside the program (JSON, env vars): reject a
    // bad value here, naming its JSON field, not later as `/ by zero`
    require(chunkSize.length == 3,
      s"chunk_size must have exactly 3 entries (z, y, x), got ${chunkSize.length}")
    require(chunkSize.forall(_ > 0),
      s"chunk_size entries must be > 0, got ${chunkSize.mkString("[", ",", "]")}")
    require(scaleFactor.length == 3,
      s"scale_factor must have exactly 3 entries (z, y, x), got ${scaleFactor.length}")
    require(scaleFactor.forall(_ >= 1),
      s"scale_factor entries must be >= 1, got ${scaleFactor.mkString("[", ",", "]")}")
    require(downsampleLevels >= 1, s"downsample_levels must be >= 1, got $downsampleLevels")
    require(compressorLevel >= 0 && compressorLevel <= 9,
      s"compressor_level must be in 0..9 (the Blosc clevel range), got $compressorLevel")
  }

  final case class JobResponse(statusCode: Int, message: String)

  // Strict JSON mapper — the default for every settings source except the
  // inline CLI arg. @file and the env fallback keep the reference's strict
  // pydantic-style contract (a malformed production settings file fails
  // loudly instead of being silently "repaired").
  private val M = new ObjectMapper()

  // Inline-CLI-only lenience (round 11): `sbt "runMain ... {\"k\":\"v\"}"`
  // never reaches the JVM intact — sbt's command tokenizer strips the
  // escaped double quotes, so the documented inline form had been
  // un-runnable from an sbt shell. Single quotes DO survive both bash
  // and sbt, so the INLINE parser accepts {'k':'v'} (and unquoted field
  // names) in addition to strict JSON. Scoped to a second mapper so the
  // lenience cannot leak into @file/env parsing (round-11 ADVICE).
  private val MInline = new ObjectMapper()
  MInline.configure(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_SINGLE_QUOTES, true)
  MInline.configure(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_FIELD_NAMES, true)

  /** Parse settings from strict JSON (the `--job-settings` CLI contract,
    * `zeiss_job.py:230-245`) — used by the @file and env paths. */
  def parseSettings(json: String): Settings = parseWith(M, json)

  /** Inline-CLI variant: additionally accepts single-quoted strings and
    * unquoted field names (shell/sbt-tokenizer survivors). */
  def parseSettingsInline(json: String): Settings = parseWith(MInline, json)

  // fields this job does not read are ignored, so a reference settings
  // file that carries the superblock size (K2/X4) still parses
  private def parseWith(mapper: ObjectMapper, json: String): Settings = {
    val n = mapper.readTree(json)
    def path(field: String): String = {
      require(n.hasNonNull(field), s"settings field $field is required")
      n.get(field).asText()
    }
    // every entry is kept: Settings checks there are exactly 3
    def ints(node: JsonNode, default: Array[Int]): Array[Int] =
      if (node == null) default
      else node.elements().asScala.map(_.asInt).toArray
    Settings(
      inputSource = path("input_source"),
      outputDirectory = path("output_directory"),
      s3Location = Option(n.get("s3_location")).filter(!_.isNull).map(_.asText()),
      chunkSize = ints(n.get("chunk_size"), Array(128, 128, 128)),
      scaleFactor = ints(n.get("scale_factor"), Array(2, 2, 2)),
      downsampleLevels = if (n.has("downsample_levels")) n.get("downsample_levels").asInt else 4,
      compressorLevel = if (n.has("compressor_level")) n.get("compressor_level").asInt else 3)
  }

  /** Voxel resolution from acquisition.json: first tile's scale transform,
    * stored [x,y,z] on disk, returned [z,y,x] (`zeiss_job.py:62-87`).
    * Any failure (IO, malformed JSON, no scale transform) names the file. */
  def voxelResolution(acquisitionPath: String, conf: Configuration = graft.core.HadoopConf.get): Seq[Double] =
    try {
      val p = new Path(acquisitionPath)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      val node = try M.readTree(in) finally in.close()
      val transforms = node.get("tiles").get(0).get("coordinate_transformations")
      val scale = transforms.elements().asScala
        .find(_.get("type").asText() == "scale").map(_.get("scale")).orNull
      require(scale != null, "no scale transformation")
      val xyz = (0 until 3).map(i => scale.get(i).asDouble())
      Seq(xyz(2), xyz(1), xyz(0))
    } catch {
      case NonFatal(e) => throw new IllegalArgumentException(
        s"cannot read the voxel size from $acquisitionPath: $e", e)
    }

  /** Discover stacks: the .czi files under `input_source/SPIM`, sorted
    * for deterministic ordering (`zeiss_job.py:42-60`). A
    * `<base>.transcoded.czi` next to `<base>.czi` is that stack's JPEG-XR
    * transcode sidecar ([[CziSource.resolveInput]]), not a stack. */
  def discoverStacks(inputSource: String, conf: Configuration = graft.core.HadoopConf.get): Seq[String] = {
    val dir = new Path(s"$inputSource/SPIM")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else {
      val czis = fs.listStatus(dir).filter(_.isFile)
        .map(_.getPath.toString).filter(_.endsWith(".czi")).toSet
      czis.filterNot { p =>
        p.endsWith(".transcoded.czi") && czis(p.stripSuffix(".transcoded.czi") + ".czi")
      }.toSeq.sorted
    }
  }

  /** Convert one CZI stack to a multiscale OME-Zarr
    * (`czi_stack_zarr_writer`, `czi_to_zarr.py:457-658`): [[convertAll]]
    * of one stack. */
  def convertStack(spark: SparkSession, cziPath: String, outRoot: String,
                   settings: Settings, voxelZyx: Seq[Double]): Volume =
    convertAll(spark, Seq(cziPath), outRoot, settings, voxelZyx).head

  /** Write one stack's metadata and plan its conversion. Level-0 chunks
    * commit in the slab task that cut them (the reference's per-slab
    * write, `czi_to_zarr.py:596-608`), levels 1.. in the pyramid's reduce
    * tasks; nothing runs until the returned Dataset is drained. */
  private def planStack(spark: SparkSession, cziPath: String, outRoot: String,
                        settings: Settings, voxelZyx: Seq[Double]): (Volume, Dataset[ZarrChunk]) = {
    val stackName = new Path(cziPath).getName.stripSuffix(".czi")
    // JPEG-XR containment: swap in the transcode sidecar (or fail with
    // the remediation) before any executor opens the file
    val (srcPath, idx) = CziSource.resolveInput(cziPath)
    val vol = CziSource.volume(idx, stackName, settings.chunkSize)
    // the reference assumes one channel per file (utils.py:355); we accept
    // c>1 and emit one omero channel entry per channel
    val chNames =
      if (vol.shape(1) == 1L) Seq("ch0")
      else (0 until vol.shape(1).toInt).map(i => s"ch$i")
    // Not `format("czi")`: reading level 0 through the connector measured
    // worse on a 512^3 u16 stack at local[4] on a 4-core host (6
    // alternating pairs: median peak heap occupancy 1479 -> 1684 MB,
    // pass 1.98 -> 2.17 s; heap after GC 753 -> 1277 MB in a traced run).
    val scan = CziSource.scan(spark, srcPath, vol, idx)
    // level 0 commits in the task that cut it and flows on to the pyramid's
    // map side in the same pass: nothing is cached and the scan runs once.
    // Nothing may sit between scan, tee and the pyramid's flatMap (no
    // coalesce, no repartition), so the typed steps fuse without
    // serialising chunks. A retried or recomputed task re-commits
    // byte-identical files by tmp + rename.
    val level0 = committed(scan, outRoot)
    ZarrIO.writeMetadata(outRoot, vol, settings.downsampleLevels, voxelZyx,
      settings.scaleFactor.toSeq, chNames, Some(Seq(0.0, 0.0, 0.0)),
      clevel = settings.compressorLevel)
    val plan =
      if (settings.downsampleLevels == 1) level0
      else committed(Pyramid.build(spark, level0, vol,
        settings.downsampleLevels, settings.scaleFactor)._2, outRoot)
    (vol, plan)
  }

  /** `ds` with each chunk committed by the task that produces it. */
  private def committed(ds: Dataset[ZarrChunk], outRoot: String): Dataset[ZarrChunk] = {
    import ds.sparkSession.implicits._
    val hconf = graft.core.HadoopConf.snapshot(ds.sparkSession.sparkContext.hadoopConfiguration)
    ds.mapPartitions { it =>
      val w = new ZarrDataWriter(outRoot, hconf)
      it.map { ck => w.put(ck.stack, ck.level, ck.t, ck.c, ck.z, ck.y, ck.x, ck.data); ck }
    }
  }

  /** Copy the input's `derivatives/` folder to the output location —
    * reference `_upload_derivatives_folder` (`zeiss_job.py:187-205`).
    * The reference gates this on partition 0; with Spark there is one
    * driver, so it simply runs once before conversion. Hadoop FS
    * replaces the `aws s3 sync` subprocess. */
  def uploadDerivatives(inputSource: String, outRoot: String,
                        conf: Configuration = graft.core.HadoopConf.get): Boolean = {
    val src = new Path(s"$inputSource/derivatives")
    val srcFs = src.getFileSystem(conf)
    if (!srcFs.exists(src)) return false
    val dst = new Path(s"$outRoot/derivatives")
    val dstFs = dst.getFileSystem(conf)
    dstFs.setWriteChecksum(false) // no .crc shadow files next to the copies
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
      false /* deleteSource */, true /* overwrite */, conf)
  }

  /** Run the whole job: discover -> convert every stack -> respond
    * (`run_job`, `zeiss_job.py:207-226`). */
  def run(spark: SparkSession, settings: Settings): JobResponse = {
    val t0 = System.nanoTime()
    val stacks = discoverStacks(settings.inputSource)
    if (stacks.isEmpty)
      return JobResponse(400, s"no CZI stacks under ${settings.inputSource}/SPIM")
    // an absent acquisition.json means unit voxels; a present but
    // unreadable one fails the job instead of writing a wrong scale
    val acquisition = new Path(s"${settings.inputSource}/acquisition.json")
    val voxel =
      if (acquisition.getFileSystem(graft.core.HadoopConf.get).exists(acquisition))
        voxelResolution(acquisition.toString)
      else Seq(1.0, 1.0, 1.0)
    val out = settings.s3Location.getOrElse(settings.outputDirectory)
    uploadDerivatives(settings.inputSource, out)
    convertAll(spark, stacks, out, settings, voxel)
    val secs = (System.nanoTime() - t0) / 1e9
    JobResponse(200, f"converted ${stacks.size} stacks in $secs%.1f s")
  }

  /** Convert stacks in one Spark action: the driver writes every stack's
    * metadata and plan, one stack after another, before any task runs;
    * then one `foreach` drains their union. Every stack's level-0 map
    * stage runs at once, but the union has one result stage, which starts
    * only when all of them are done: no level-1 chunk commits before the
    * last stack's level-0 scan ends, and every stack's pyramid shuffle
    * output is on executor disk at the same time. The first task that
    * fails after Spark's retries fails the whole job; a re-run converges,
    * since every chunk commits by tmp + rename to a path fixed by its
    * coordinates. */
  def convertAll(spark: SparkSession, stacks: Seq[String], out: String,
                 settings: Settings, voxelZyx: Seq[Double]): Seq[Volume] = {
    val plans = stacks.map(planStack(spark, _, out, settings, voxelZyx))
    // a chunk is committed before it reaches the union; dropping it there
    // spares serialising its bytes into the union's rows
    plans.map(_._2.filter((_: ZarrChunk) => false)).reduceOption(_ union _)
      .foreach(_.foreach((_: ZarrChunk) => ()))
    plans.map(_._1)
  }

  /** Settings from environment variables — the reference CLI's THIRD
    * config source (`zeiss_job.py` `job_entrypoint`: no `--job-settings`
    * and no `--config-file` falls through to `ZeissJobSettings()`, whose
    * pydantic-settings base reads `TRANSFORMATION_JOB_<FIELD>` env vars).
    * String fields ride verbatim; list/numeric fields parse as JSON,
    * mirroring pydantic-settings' complex-field handling. Implemented by
    * synthesizing the equivalent settings JSON and reusing
    * [[parseSettings]], so all three sources share one validation path. */
  def settingsFromEnv(env: Map[String, String] = sys.env): Settings = {
    val stringFields = Set("input_source", "output_directory", "s3_location")
    val fields = Seq("input_source", "output_directory", "s3_location",
      "chunk_size", "scale_factor", "downsample_levels", "compressor_level")
    val root = M.createObjectNode()
    fields.foreach { f =>
      env.get("TRANSFORMATION_JOB_" + f.toUpperCase).foreach { v =>
        if (stringFields(f)) root.put(f, v)
        else root.set[JsonNode](f, M.readTree(v))
      }
    }
    require(root.has("input_source") && root.has("output_directory"),
      "env-var settings require TRANSFORMATION_JOB_INPUT_SOURCE and " +
        "TRANSFORMATION_JOB_OUTPUT_DIRECTORY")
    parseSettings(M.writeValueAsString(root))
  }

  /** The response line `main` prints: `{"status_code":..,"message":..}`. */
  def responseJson(resp: JobResponse): String =
    M.writeValueAsString(M.createObjectNode()
      .put("status_code", resp.statusCode).put("message", resp.message))

  def main(args: Array[String]): Unit = {
    // three config sources, in the reference's precedence
    // (zeiss_job.py:234-242): inline JSON (joined — shells/sbt may split
    // it), @file, or — with no args at all — TRANSFORMATION_JOB_* env vars
    val settings =
      if (args.isEmpty) settingsFromEnv()
      else if (args(0).startsWith("@"))
        parseSettings(new String(
          Files.readAllBytes(Paths.get(args(0).drop(1))), "UTF-8"))
      else parseSettingsInline(args.mkString(" "))
    val spark = graft.Spark.session(appName = "graft-zeiss-job")
    val resp = run(spark, settings)
    println(responseJson(resp))
    spark.stop()
  }
}
