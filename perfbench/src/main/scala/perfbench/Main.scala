package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum, udf}

import graft.jobs.ZeissJob

/** The conversion benchmark. One process, one Spark session at
  * `local[cores]`, one client issuing one call at a time.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --run-dir <dir> --cache-dir <dir> [--source <id>] [--plant-corrupt 1]
  * }}}
  *
  * Untraced (`--trace 0`): set up (fixture outside timing, session,
  * untimed warm-up passes), then timed passes until `--seconds` of pass time
  * has accrued, each pass checked afterwards. Traced (`--trace 1`): the same
  * set-up, untraced passes for half the time, then traced passes with the
  * engine listener and spans, then single-thread kernel replays on the
  * workload's own data. The result goes to `<run-dir>/result.json` (the
  * metrics [[Metrics]] names), the full record to `record.json` and the
  * spans to `trace.json`. */
object Main {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = req("workload")
    if (!Workload.names.contains(workload)) {
      System.err.println(s"unknown workload $workload; known: ${Workload.names.mkString(", ")}")
      sys.exit(2)
    }
    val bench = new Bench(workload, req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("run-dir")).toAbsolutePath, Paths.get(req("cache-dir")).toAbsolutePath,
      opts.getOrElse("source", "unknown"), opts.get("plant-corrupt").contains("1"),
      opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val code = try bench.run() catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }
}

/** Workload shapes. Sizes are fixed so that figures are comparable across
  * commits; only `--seed` changes the voxels. */
object Workload {
  val names = Seq("convert_large", "read_pyramid")
  val Chunk = Array(128, 128, 128)
  val Levels = 4
  // one u16 stack of 512^3 = 256 MiB: four 128-plane slabs, one scan task per core
  val Large = (512, 512, 512)
  val RoiCount = 8
  // untimed passes before timing starts: with fewer, the first timed passes
  // are still visibly faster than the ones before (JIT, caches)
  val WarmupPasses = 4
}

final class Bench(workload: String, seed: Long, seconds: Double, traced: Boolean,
                  runDir: Path, cacheDir: Path, source: String, plantCorrupt: Boolean, cores: Int) {
  import Workload._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val mainNs = System.nanoTime()
  private val mainMs = System.currentTimeMillis()
  private val trace = new Trace(traced)
  private val memory = new Memory
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var outside = 0.0 // seconds inside the set-up window spent on fixture and checks
  private var spark: SparkSession = _
  private var listener: EngineListener = _

  private def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - mainNs) / 1e9}%7.2fs] $msg")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def outsideTiming[T](body: => T): T = { val (r, s) = timed(body); outside += s; r }

  /** Counts one operation; `problem` is None when it succeeded. */
  private def op(problem: Option[String]): Boolean = {
    attempted += 1
    problem.foreach { p => failed += 1; if (problems.size < 20) problems += p; log(s"FAILED: $p") }
    problem.isEmpty
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- set-up

  private lazy val stacks: Seq[StackSpec] = Fixture.large(seed, Large._1, Large._2, Large._3)
  private lazy val fixture: Fixture = Fixture.obtain(cacheDir, seed, stacks, threads = cores)
  private def rawBytes: Long = fixture.rawBytes

  private def startSpark(): Unit = {
    val local = Files.createDirectories(runDir.resolve("spark-local"))
    System.setProperty("spark.local.dir", local.toString)
    spark = graft.Spark.session(master = s"local[$cores]", shufflePartitions = cores, appName = "perfbench")
    org.apache.logging.log4j.core.config.Configurator.setLevel("org.apache.spark", org.apache.logging.log4j.Level.ERROR)
  }

  // ---------------------------------------------------------------- conversion

  private var passNo = 0
  // the generator's level-0 chunk CRCs, from the first check on
  private var level0Crcs: StoreCheck.Level0Crcs = Map.empty

  /** One `ZeissJob.run` into a fresh, empty output root; returns the pass
    * seconds and the output check (run after timing). The output is deleted
    * unless `keep`. */
  private def convertPass(label: String, keep: Boolean = false): (Double, StoreCheck.Result, Path) = {
    passNo += 1
    trace.pass = passNo
    val out = runDir.resolve("out").resolve(s"$label-$passNo")
    Fs.deleteTree(out)
    val settings = ZeissJob.Settings(inputSource = fixture.input.toString, outputDirectory = out.toString)
    val group = s"pass-$passNo"
    spark.sparkContext.setJobGroup(group, label)
    val before = Option(listener).map(_.snapshot)
    val t0 = System.currentTimeMillis()
    val (resp, secs) = timed {
      try trace.span("ZeissJob.run")(memory.during(ZeissJob.run(spark, settings)))
      catch { case e: Exception => ZeissJob.JobResponse(-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val t1 = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val check = outsideTiming {
      if (plantCorrupt && passNo == 2) plant(out)
      val c = StoreCheck.check(out, stacks, Chunk, Levels, sampled = 4, seed = seed + passNo, threads = cores,
        known = level0Crcs)
      level0Crcs = c.level0
      c
    }
    op(if (resp.statusCode != 200) Some(s"$label: JobResponse ${resp.statusCode} ${resp.message}")
       else check.problems.headOption.map(p => s"$label: $p (${check.problems.size} problems)"))
    before.foreach(b => engine(group, "ZeissJob.run", b, secs, t0, t1))
    if (!keep) outsideTiming(Fs.deleteTree(out))
    (secs, check, out)
  }

  /** Flips one byte in the middle of the first level-0 chunk file. */
  private def plant(root: Path): Unit = {
    val f = Fs.walk(root.resolve(stacks.head.name).resolve("0")).filterNot(_.getFileName.toString.startsWith(".")).head
    val b = Files.readAllBytes(f)
    b(b.length / 2) = (b(b.length / 2) ^ 0x5A).toByte
    Files.write(f, b)
    log(s"planted a corrupt byte in ${root.relativize(f)}")
  }

  // ---------------------------------------------------------------- read-back

  private case class Expect(count: Long, bytes: Long, crc: Long)
  private case class Roi(level: Int, lo: Array[Int], hi: Array[Int])

  /** CRC-32 of every decoded chunk of a store, keyed (stack, level, z, y, x),
    * decoded with [[BloscFrame]]. */
  private def chunkCrcs(root: Path): Map[(String, Int, Int, Int, Int), (Long, Long)] = {
    val keys = stacks.flatMap { s =>
      StoreCheck.levels(s.model, Chunk, Levels).zipWithIndex.flatMap { case (l, k) =>
        val g = l.grid
        for (z <- 0 until g(0); y <- 0 until g(1); x <- 0 until g(2)) yield (s.name, k, z, y, x)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try keys.map { key =>
      pool.submit { () =>
        val (st, k, z, y, x) = key
        val data = BloscFrame.decode(Files.readAllBytes(root.resolve(s"$st/$k/0/0/$z/$y/$x")))
        val c = new java.util.zip.CRC32(); c.update(data)
        key -> (c.getValue, data.length.toLong)
      }
    }.map(_.get()).toMap
    finally pool.shutdown()
  }

  private lazy val crcUdf = udf((b: Array[Byte]) => {
    val c = new java.util.zip.CRC32(); c.update(b); c.getValue
  })

  private def expect(crcs: Map[(String, Int, Int, Int, Int), (Long, Long)], stack: String, level: Int,
                     lo: Array[Int], hi: Array[Int]): Expect = {
    val sel = crcs.collect { case ((s, k, z, y, x), v) if s == stack && k == level &&
      z >= lo(0) && z <= hi(0) && y >= lo(1) && y <= hi(1) && x >= lo(2) && x <= hi(2) => v }
    Expect(sel.size, sel.map(_._2).sum, sel.map(_._1).sum)
  }

  /** The seeded ROI set: boxes of a fixed size (2 x 2 x 2 chunks on level
    * 0, 1 x 2 x 2 on level 1) at seeded positions, so every seed reads the
    * same number of chunks. */
  private def rois(stack: StackSpec): Seq[Roi] = {
    val rng = new java.util.SplittableRandom(seed * 7 + 3)
    val lv = StoreCheck.levels(stack.model, Chunk, Levels)
    Seq.tabulate(RoiCount) { i =>
      val k = i % 2
      val size = if (k == 0) Array(2, 2, 2) else Array(1, 2, 2)
      val g = lv(k).grid
      val lo = Array.tabulate(3)(d => rng.nextInt(math.max(1, g(d) - size(d) + 1)))
      Roi(k, lo, Array.tabulate(3)(d => math.min(g(d), lo(d) + size(d)) - 1))
    }
  }

  /** Reads one stack: every level through `format("zarr")`, then the ROI
    * set with coordinate predicates. Returns (pass seconds, level seconds,
    * ROI seconds, decoded bytes); mismatches are recorded as failures. */
  private def readPass(root: Path, stack: StackSpec, crcs: Map[(String, Int, Int, Int, Int), (Long, Long)],
                       roiSet: Seq[Roi]): (Double, Double, Double, Long) = {
    passNo += 1
    trace.pass = passNo
    val group = s"pass-$passNo"
    spark.sparkContext.setJobGroup(group, "read")
    val before = Option(listener).map(_.snapshot)
    def scan(level: Int) = spark.read.format("zarr").option("path", root.toString)
      .option("stack", stack.name).option("level", level.toString).load()
    def agg(df: org.apache.spark.sql.DataFrame): Expect = {
      val r: Row = df.agg(count(lit(1)), sum(length(col("data"))), sum(crcUdf(col("data")))).head()
      Expect(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    val t0 = System.currentTimeMillis()
    var bytes = 0L
    val found = mutable.ArrayBuffer.empty[Option[String]]
    val (_, levelSecs) = timed(trace.span("zarr.read")(memory.during {
      (0 until Levels).foreach { k =>
        val want = expect(crcs, stack.name, k, Array(0, 0, 0), Array(Int.MaxValue, Int.MaxValue, Int.MaxValue))
        found += (try {
          val got = agg(scan(k))
          bytes += got.bytes
          if (got == want) None else Some(s"read level $k: got $got, expected $want")
        } catch { case e: Exception => Some(s"read level $k: ${e.getClass.getSimpleName}: ${e.getMessage}") })
      }
    }))
    val (_, roiSecs) = timed(trace.span("zarr.roi_read")(memory.during {
      roiSet.foreach { r =>
        val df = scan(r.level).filter(col("z").between(r.lo(0), r.hi(0)) &&
          col("y").between(r.lo(1), r.hi(1)) && col("x").between(r.lo(2), r.hi(2)))
        val want = expect(crcs, stack.name, r.level, r.lo, r.hi)
        found += (try {
          val got = agg(df)
          bytes += got.bytes
          if (got == want) None else Some(s"roi ${r.level}/${r.lo.mkString(",")}: got $got, expected $want")
        } catch { case e: Exception => Some(s"roi ${r.level}: ${e.getClass.getSimpleName}: ${e.getMessage}") })
      }
    }))
    val t1 = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    op(found.flatten.headOption)
    before.foreach(b => engine(group, "zarr.read", b, levelSecs + roiSecs, t0, t1))
    (levelSecs + roiSecs, levelSecs, roiSecs, bytes)
  }

  // ---------------------------------------------------------------- engine counters

  private val engineRows = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Per-pass listener counters, job/stage child spans and driver-only time. */
  private def engine(group: String, parentSpan: String, before: EngineListener.Counters,
                     secs: Double, t0: Long, t1: Long): Unit = {
    if (!listener.await(spark.sparkContext, group)) log(s"listener did not see every job of $group end")
    val d = listener.snapshot - before
    val jobs = listener.jobIntervals(group)
    val parent = trace.last(parentSpan)
    val jobSpans = jobs.map { case (id, s, e) => id -> trace.add(s"spark.job.$id", s, e, parent) }.toMap
    listener.stageIntervals(group).foreach { case (id, job, s, e) =>
      trace.add(s"spark.stage.$id", s, e, jobSpans.getOrElse(job, parent))
    }
    engineRows += Map(
      "spark.jobs" -> d.jobs.toDouble, "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble, "spark.task_failures" -> d.taskFailures.toDouble,
      "spark.executor_cpu_s" -> d.executorCpuNs / 1e9, "spark.executor_run_s" -> d.executorRunMs / 1e3,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> d.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> d.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> d.spillBytes.toDouble,
      "spark.cpu_util" -> d.executorCpuNs / 1e9 / (secs * cores),
      "job.run_s" -> secs,
      "job.driver_s" -> EngineListener.uncovered(t0, t1, jobs.map { case (_, s, e) => (s, e) }))
  }

  // ---------------------------------------------------------------- run

  def run(): Int = {
    Files.createDirectories(runDir)
    log(s"workload=$workload seed=$seed seconds=$seconds trace=$traced cores=$cores")
    val (_, fixtureSecs) = timed(fixture)
    outside += fixtureSecs
    log(f"fixture ${fixture.dir.getFileName} ${fixture.bytes / 1e6}%.1f MB " +
      s"(${if (fixture.cached) "cached" else f"generated in ${fixture.genSeconds}%.2f s"})")
    val (_, sessionSecs) = timed(startSpark())
    if (traced) { listener = new EngineListener; spark.sparkContext.addSparkListener(listener) }

    val timedSecs = mutable.ArrayBuffer.empty[Double]
    val passBytes = mutable.ArrayBuffer.empty[Long]
    val stored = mutable.ArrayBuffer.empty[StoreCheck.Result]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var untracedMedian = Double.NaN
    var warmupSecs = 0.0
    var setupS = 0.0
    var tracedRows = List.empty[Map[String, Double]]

    def loop(budget: Double, minPasses: Int)(pass: => Double): Seq[Double] = {
      val xs = mutable.ArrayBuffer.empty[Double]
      while (xs.size < minPasses || xs.sum < budget) xs += pass
      xs.toSeq
    }

    workload match {
      case "read_pyramid" =>
        val store = runDir.resolve("out").resolve("store")
        Fs.deleteTree(store)
        // set-up: one conversion of the fixture (program work, part of set-up)
        spark.sparkContext.setJobGroup("setup", "convert")
        val before = Option(listener).map(_.snapshot)
        val t0 = System.currentTimeMillis()
        val (resp, convSecs) = timed(trace.span("ZeissJob.run")(memory.during(ZeissJob.run(spark,
          ZeissJob.Settings(inputSource = fixture.input.toString, outputDirectory = store.toString)))))
        val t1 = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        before.foreach(b => engine("setup", "ZeissJob.run", b, convSecs, t0, t1))
        val setupEngine = engineRows.headOption
        engineRows.clear()
        val listenerRef = listener
        if (traced) { spark.sparkContext.removeSparkListener(listener); listener = null }
        val check = outsideTiming(StoreCheck.check(store, stacks, Chunk, Levels, 4, seed, cores))
        op(if (resp.statusCode != 200) Some(s"setup conversion: ${resp.statusCode} ${resp.message}")
           else check.problems.headOption)
        stored += check
        // expected read results come from the store as checked, before any planted fault
        val crcs = outsideTiming(chunkCrcs(store))
        if (plantCorrupt) outsideTiming(plant(store))
        val roiSet = rois(stacks.head)
        warmupSecs = convSecs + (1 to WarmupPasses).map(_ => readPass(store, stacks.head, crcs, roiSet)._1).sum
        setupS = setupSeconds()
        val half = if (traced) seconds / 2 else seconds
        val xs = mutable.ArrayBuffer.empty[(Double, Double, Double, Long)]
        timedSecs ++= loop(half, 3) { val r = readPass(store, stacks.head, crcs, roiSet); xs += r; r._1 }
        passBytes ++= xs.map(_._4)
        if (traced) {
          untracedMedian = median(timedSecs.toSeq)
          listener = listenerRef
          spark.sparkContext.addSparkListener(listener)
          val ys = mutable.ArrayBuffer.empty[(Double, Double, Double, Long)]
          val tracedSecs = loop(half, 3) { val r = readPass(store, stacks.head, crcs, roiSet); ys += r; r._1 }
          layer("trace.overhead_s") = median(tracedSecs) - untracedMedian
          layer("zarr.read_s") = median(ys.map(_._2).toSeq)
          layer("zarr.roi_read_s") = median(ys.map(_._3).toSeq)
          tracedRows = engineRows.toList
          setupEngine.foreach { e => layer("job.run_s") = e("job.run_s"); layer("job.driver_s") = e("job.driver_s") }
        }

      case _ =>
        warmupSecs = (1 to WarmupPasses).map(_ => convertPass("warmup")._1).sum
        setupS = setupSeconds()
        val half = if (traced) seconds / 2 else seconds
        if (traced) spark.sparkContext.removeSparkListener(listener)
        val listenerRef = listener
        listener = null
        timedSecs ++= loop(half, 3) { val (s, c, _) = convertPass("timed"); stored += c; s }
        passBytes ++= timedSecs.map(_ => rawBytes)
        if (traced) {
          untracedMedian = median(timedSecs.toSeq)
          listener = listenerRef
          spark.sparkContext.addSparkListener(listener)
          engineRows.clear()
          var last: Path = null
          val tracedSecs = loop(half, 2) {
            Option(last).foreach(Fs.deleteTree)
            val (s, c, out) = convertPass("traced", keep = true)
            last = out; stored += c; s
          }
          layer("trace.overhead_s") = median(tracedSecs) - untracedMedian
          tracedRows = engineRows.toList
          layer("job.run_s") = median(tracedRows.map(_("job.run_s")))
          layer("job.driver_s") = median(tracedRows.map(_("job.driver_s")))
          // read-back of the last traced store through the same Zarr layer
          val crcs = chunkCrcs(last)
          val reads = stacks.map(s => readPass(last, s, crcs, rois(s)))
          layer("zarr.read_s") = reads.map(_._2).sum
          layer("zarr.roi_read_s") = reads.map(_._3).sum
          Fs.deleteTree(last)
        }
    }

    val passS = median(timedSecs.toSeq)
    val mbPerCore = median(passBytes.map(_ / 1e6).toSeq) / passS / cores
    val storedRatio = stored.last.storeBytes.toDouble / rawBytes

    if (traced) {
      Metrics.engine.foreach(k => layer(k) = median(tracedRows.map(_(k))))
      layer("zarr.files_written") = stored.last.files.toDouble
      layer("zarr.bytes_written") = stored.last.storeBytes.toDouble
      kernels(layer, mbPerCore)
    }

    val values: collection.Map[String, Double] =
      if (traced) layer
      else Map("setup_s" -> setupS, "pass_s" -> passS, "mb_s_per_core" -> mbPerCore,
        "stored_ratio" -> storedRatio, "peak_mem_mb" -> memory.peakMb)
    val metrics = Metrics.select(traced, values)
    val missing = metrics.collect { case (m, v) if v.isNaN => m.name }
    if (missing.nonEmpty) op(Some(s"metrics not measured: ${missing.mkString(", ")}"))
    val result = Metrics.resultJson(attempted, failed, metrics)

    val record = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> traced.toString, "cores" -> cores.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "memory" -> Json.obj(Seq("heap_after_gc_mb" -> Json.num(memory.heapMb),
        "off_heap_rss_mb" -> Json.num(memory.offHeapMb))),
      "source" -> Json.str(source), "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "fixture" -> Json.obj(Seq("dir" -> Json.str(fixture.dir.getFileName.toString),
        "generate_s" -> Json.num(fixture.genSeconds), "bytes" -> fixture.bytes.toString,
        "cached" -> fixture.cached.toString, "obtain_s" -> Json.num(fixtureSecs),
        "raw_voxel_bytes" -> rawBytes.toString)),
      "setup" -> Json.obj(Seq("jvm_to_main_s" -> Json.num((mainMs - jvmStartMs) / 1e3),
        "session_s" -> Json.num(sessionSecs), "warmup_pass_s" -> Json.num(warmupSecs),
        "excluded_s" -> Json.num(outside), "setup_s" -> Json.num(setupS))),
      "passes" -> timedSecs.size.toString,
      // the highest percentile with at least ten passes beyond it; none below 20 passes
      "max_percentile" -> (if (timedSecs.size < 20) "null" else (100 - 1000 / timedSecs.size).toString),
      "pass_seconds" -> Json.arr(timedSecs.map(Json.num).toSeq),
      "untraced_pass_s" -> Json.num(untracedMedian),
      "failed_frac" -> Json.num(if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "problems" -> Json.arr(problems.map(Json.str).toSeq),
      "metrics" -> Json.obj(metrics.map { case (m, v) => m.name -> Json.num(v) }),
      "layers" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }))
    Files.write(runDir.resolve("record.json"), (Json.obj(record) + "\n").getBytes(UTF_8))
    if (traced) Files.write(runDir.resolve("trace.json"), trace.json.getBytes(UTF_8))
    Files.write(runDir.resolve("result.json"), (result + "\n").getBytes(UTF_8))
    spark.stop()
    Fs.deleteTree(runDir.resolve("spark-local"))
    Fs.deleteTree(runDir.resolve("out"))
    log(s"done: attempted=$attempted failed=$failed")
    0
  }

  /** Process start to now, less fixture generation and output checks. */
  private def setupSeconds(): Double =
    (mainMs - jvmStartMs) / 1e3 + (System.nanoTime() - mainNs) / 1e9 - outside

  /** Single-thread kernel replays, the memcpy ceiling and the scaling
    * efficiency they imply. */
  private def kernels(layer: mutable.Map[String, Double], mbPerCore: Double): Unit = {
    val k = new Kernels(trace, capBytes = 48L << 20)
    val files = stacks.map(fixture.czi)
    trace.pass = -1
    layer("czi.index_s") = k.index(files)
    layer("czi.decode_mb_s") = k.decode(files)
    val (slab, chunks) = k.slabs(files, Chunk)
    layer("czi.slab_mb_s") = slab
    layer("pyramid.kernel_mb_s") = k.pyramid(chunks)
    layer("blosc.shuffle_mb_s") = k.shuffle(chunks)
    val (enc, dec, ratio) = k.blosc(chunks)
    layer("blosc.encode_mb_s") = enc
    layer("blosc.decode_mb_s") = dec
    layer("blosc.ratio") = ratio
    layer("zarr.meta_s") = metaReplay()
    layer("machine.memcpy_mb_s") = k.memcpy(640 << 20)
    // measured rate per core over the single-thread rate of the kernel chain
    // one MB of the workload needs: decode only for reads; for conversions
    // slab cut, three halvings and four levels' encode
    val chainMbS =
      if (workload == "read_pyramid") dec
      else 1 / (1 / slab + (1 + 1.0 / 8 + 1.0 / 64) / layer("pyramid.kernel_mb_s") +
        (1 + 1.0 / 8 + 1.0 / 64 + 1.0 / 512) / enc)
    layer("scaling_efficiency") = mbPerCore / chainMbS
  }

  /** `ZarrIO.writeMetadata` for every stack of the workload: seconds per sweep. */
  private def metaReplay(): Double = {
    val root = runDir.resolve("meta-replay")
    val vols = stacks.map(st => graft.sources.czi.CziSource.volume(fixture.czi(st).toString, st.name, Chunk)._1)
    val secs = (0 until 3).map { _ =>
      Fs.deleteTree(root)
      timed(trace.span("zarr.meta")(vols.foreach(v => graft.io.zarr.ZarrIO.writeMetadata(root.toString, v, Levels))))._2
    }
    Fs.deleteTree(root)
    median(secs)
  }
}
