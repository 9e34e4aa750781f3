package graft.jobs

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, SerializeFromObjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{Blosc, ChunkGrid, Volume}
import graft.io.zarr.ZarrIO
import graft.operators.PyramidFusedSpec.assertWrittenLevels
import graft.sources.SyntheticStack
import graft.sources.czi.SyntheticCzi
import graft.tools.Census

/** A local-disk `convfs://` filesystem that records every path passed to
  * `create` and every path opened outside a task (on the driver) and,
  * while armed, throws on the first create whose path contains the armed
  * fragment (local mode shares one JVM, so a static flag reaches the
  * executor threads). */
class ConvertFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("convfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TaskContext.get() == null) ConvertFs.driverOpens.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val p = f.toUri.getPath
    ConvertFs.created.add(p)
    val frag = ConvertFs.failOn.get
    if (frag != null && p.contains(frag) && ConvertFs.failOn.compareAndSet(frag, null))
      throw new IOException(s"injected create failure at $p")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ConvertFs {
  val created = new ConcurrentLinkedQueue[String]()
  val driverOpens = new ConcurrentLinkedQueue[String]()
  val failOn = new AtomicReference[String](null)
}

/** `ZeissJob.convertStack` is one pass over the CZI: each level-0 chunk
  * is encoded and committed once, by the slab task that cut it, whether
  * the pyramid is one fused round (aligned chunks), several rounds
  * (chunks not a multiple of f^(levels-1)) or absent (one level). Every
  * level equals the dense oracle. A whole `ZeissJob.run` over several
  * stacks is one Spark action. A failure mid-scan or mid-pyramid leaves
  * only complete chunk files visible, and a re-run into the same root
  * converges to the tree of a clean conversion. */
class ConvertStackSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = Spark.session(master = "local[4]", shufflePartitions = 4,
      appName = "graft-convert-test")
    s.sparkContext.hadoopConfiguration.set("fs.convfs.impl", classOf[ConvertFs].getName)
    s
  }

  /** A synthetic CZI stack `<root>/<stack>.czi` of `zyx` voxels. */
  private def czi(stack: String, zyx: (Int, Int, Int)): String = {
    val root = Files.createTempDirectory(s"conv-$stack").toString
    SyntheticCzi.write(s"$root/$stack.czi",
      Array.tabulate(zyx._1, zyx._2, zyx._3)((z, y, x) => SyntheticStack.value(z, y, x)))
    s"$root/$stack.czi"
  }

  /** `<root>/in/SPIM/<stack>.czi` of 32^3 voxels for each of `stacks`;
    * returns `root`. */
  private def spim(stacks: Seq[String]): String = {
    val root = Files.createTempDirectory("conv-spim").toString
    Files.createDirectories(Paths.get(root, "in", "SPIM"))
    stacks.foreach { st =>
      SyntheticCzi.write(s"$root/in/SPIM/$st.czi",
        Array.tabulate(32, 32, 32)((z, y, x) => SyntheticStack.value(z, y, x)))
    }
    root
  }

  private def runJob(root: String, out: String, nLevels: Int): Unit = {
    val resp = ZeissJob.run(spark, ZeissJob.Settings(inputSource = s"$root/in",
      outputDirectory = out, chunkSize = Array(16, 16, 16), downsampleLevels = nLevels))
    assert(resp.statusCode == 200, resp.message)
  }

  private def convert(cziPath: String, out: String, chunk: Array[Int], nLevels: Int) = {
    val settings = ZeissJob.Settings(inputSource = Paths.get(cziPath).getParent.toString,
      outputDirectory = out, chunkSize = chunk, downsampleLevels = nLevels)
    ZeissJob.convertStack(spark, cziPath, out, settings, Seq(1.0, 1.0, 1.0))
  }

  /** (relativePath -> bytes) of every file under `dir` except `.tmp-*`. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".tmp-"))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  /** Metadata and tmp files are dot-files; chunk files are not. */
  private def dotFile(rel: String): Boolean = Paths.get(rel).getFileName.toString.startsWith(".")

  private def tmps(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq
    finally s.close()
  }

  /** Waits for tasks of a failed job that were still running. */
  private def awaitIdle(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.sparkContext.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum > 0 &&
           System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  for ((name, zyx, chunk, nLevels) <- Seq(
         ("aligned 32^3 in 16^3 chunks, 3 levels", (32, 32, 32), Array(16, 16, 16), 3),
         ("unaligned 20x24x28 in 12^3 chunks, 4 levels", (20, 24, 28), Array(12, 12, 12), 4),
         ("downsample_levels = 1", (32, 32, 32), Array(16, 16, 16), 1)))
    test(s"$name: every level-0 chunk file is created exactly once, levels exact") {
      val stack = s"once$nLevels${zyx._1}"
      val local = Files.createTempDirectory("conv-once").toString
      val out = s"convfs://$local"
      val vol = convert(czi(stack, zyx), out, chunk, nLevels)

      // chunk creates are `<stack>/0/t/c/z/y/.tmp-<x>-<uuid>`, renamed to
      // `.../y/<x>` on commit; the level's `.zarray` is not a chunk
      val prefix = s"$local/$stack/0/"
      val l0Creates = ConvertFs.created.asScala.toSeq
        .filter(p => p.startsWith(prefix) && new Path(p).getName.startsWith(".tmp-"))
        .map { p =>
          val f = new Path(p)
          s"${f.getParent.toUri.getPath}/${f.getName.split('-')(1)}"
        }
      val grid = vol.grid
      val want = (0L until vol.numChunks).map { i =>
        prefix + ChunkGrid.chunkCoords(i, grid).mkString("/")
      }
      assert(l0Creates.sorted == want.sorted,
        s"level-0 chunk creates ${l0Creates.size}, chunks ${want.size}")
      assertWrittenLevels(spark, out, stack, vol, nLevels)
    }

  test("aligned 32^3 in 16^3 chunks, 3 levels: one pass is 2 jobs, 2 stages, one exchange") {
    // the pyramid write is the only action: one adaptive job for its
    // exchange's map stage, one for its result stage
    val src = czi("census", (32, 32, 32))
    val out = Files.createTempDirectory("conv-census").toString
    val execs = Census.measure(spark)(convert(src, out, Array(16, 16, 16), 3))
    assert(execs.map(_.jobs).sum == 2, execs)
    assert(execs.map(_.stages).sum == 2, execs)
    assert(execs.map(_.nodes("ShuffleExchange")).sum == 1, execs)
    // the map side is fused: range -> scan -> level-0 tee -> pyramid
    // pieces deserialise once and serialise only into the exchange
    val below = execs.flatMap(_.plan).flatMap(Census.nodes)
      .collect { case e: ShuffleExchangeExec => e.child }.flatMap(Census.nodes)
    val names = below.map(_.nodeName)
    assert(below.count(_.isInstanceOf[DeserializeToObjectExec]) == 1, names)
    assert(!below.exists(_.isInstanceOf[SerializeFromObjectExec]), names)
  }

  test("unaligned 20x24x28 in 12^3 chunks, 4 levels: two pyramid rounds, one exchange each") {
    // 12 % 2^3 != 0: levels 1-2 are one fused round, level 3 a second round
    // over level 2 that reads the first round's exchange as a reused one.
    // The per-level chain this replaced ran 4 jobs, 4 stages, 3
    // ShuffleExchange and 2 ReusedExchange nodes.
    val src = czi("census-u", (20, 24, 28))
    val out = Files.createTempDirectory("conv-census-u").toString
    val execs = Census.measure(spark)(convert(src, out, Array(12, 12, 12), 4))
    assert(execs.map(_.jobs).sum == 3, execs)
    assert(execs.map(_.stages).sum == 3, execs)
    assert(execs.map(_.nodes("ShuffleExchange")).sum == 2, execs)
    assert(execs.map(_.nodes("ReusedExchange")).sum == 1, execs)
  }

  for ((nLevels, jobs, exchanges) <- Seq((3, 4, 3), (1, 1, 0)))
    test(s"ZeissJob.run over 3 stacks, $nLevels level(s), is one action: " +
         s"$jobs job(s) and stage(s), $exchanges exchange(s), levels exact") {
      // each stack's pyramid exchange is one adaptive map-stage job; one
      // result stage drains the union of the three plans
      val stacks = Seq("ra", "rb", "rc").map(_ + nLevels)
      val root = spim(stacks)
      val execs = Census.measure(spark)(runJob(root, s"$root/out", nLevels))
      assert(execs.size == 1 && execs.head.funcName == "foreachPartition", execs)
      assert(execs.head.jobs == jobs && execs.head.stages == jobs, execs)
      assert(execs.head.nodes("ShuffleExchange") == exchanges, execs)
      stacks.foreach { st =>
        assertWrittenLevels(spark, s"$root/out", st,
          Volume(st, 0, Array(1L, 1L, 32L, 32L, 32L), Array(1, 1, 16, 16, 16)), nLevels)
      }
    }

  test("a multi-stack job failing in one stack's level 1 fails; a re-run converges for every stack") {
    val stacks = Seq("fa", "fb", "fc")
    val root = spim(stacks)
    val clean = Files.createTempDirectory("conv-multi-clean").toString
    runJob(root, s"convfs://$clean", 3)
    val want = tree(clean)

    val local = Files.createTempDirectory("conv-multi-fault").toString
    val out = s"convfs://$local"
    ConvertFs.failOn.set(s"$local/fb/1/0/0/0/0/.tmp-0-")
    try intercept[SparkException](runJob(root, out, 3))
    finally assert(ConvertFs.failOn.getAndSet(null) == null, "the injected failure never fired")
    awaitIdle()
    assert(!new java.io.File(s"$local/fb/1/0/0/0/0/0").exists(), "the failed chunk was committed")

    runJob(root, out, 3)
    ZarrIO.cleanupTmp(local, spark.sparkContext.hadoopConfiguration)
    assert(tree(local) == want)
    assert(tmps(local).isEmpty, "tmp files left after the re-run and sweep")
  }

  test("planning opens each .czi once on the driver, in ZeissJob.run and format(czi)") {
    val root = spim(Seq("oa", "ob"))
    def opens(run: => Unit): Map[String, Int] = {
      ConvertFs.driverOpens.clear()
      run
      ConvertFs.driverOpens.asScala.toSeq.filter(_.endsWith(".czi"))
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
    }
    val spimDir = s"$root/in/SPIM"
    assert(opens(runJob(s"convfs://$root", s"$root/out", 2)) ==
      Map(s"$spimDir/oa.czi" -> 1, s"$spimDir/ob.czi" -> 1))
    assert(opens(spark.read.format("czi").option("path", s"convfs://$spimDir/oa.czi")
      .option("chunk_z", "16").option("chunk_y", "16").option("chunk_x", "16")
      .load().collect()) == Map(s"$spimDir/oa.czi" -> 1))
  }

  test("2048^3 chunks fail at planning, before any Spark job runs") {
    // 2048^3 u16 is 16 GiB: no JVM array holds it, and its Int byte count
    // wraps to 0
    val src = czi("huge", (8, 8, 8))
    val out = Files.createTempDirectory("conv-huge").toString
    val execs = Census.measure(spark) {
      val e = intercept[IllegalArgumentException](convert(src, out, Array(2048, 2048, 2048), 2))
      assert(e.getMessage.contains("2048x2048x2048") && e.getMessage.contains("2-byte"), e.getMessage)
    }
    assert(execs.map(_.jobs).sum == 0, execs)
  }

  for ((name, level, chunkPath) <- Seq(
         ("mid-scan (one level-0 chunk)", 0, "0/0/1/0/.tmp-1-"),
         ("mid-pyramid (one level-1 chunk)", 1, "0/0/0/0/.tmp-0-")))
    test(s"a conversion failing $name leaves complete chunks; a re-run converges") {
      val stack = s"fault$level"
      val src = czi(stack, (32, 32, 32))
      val clean = Files.createTempDirectory("conv-clean").toString
      convert(src, s"convfs://$clean", Array(16, 16, 16), 3)
      val want = tree(clean)
      val wantChunks = want.keySet.filterNot(dotFile)

      val local = Files.createTempDirectory("conv-fault").toString
      val out = s"convfs://$local"
      ConvertFs.failOn.set(s"$local/$stack/$level/$chunkPath")
      try intercept[SparkException](convert(src, out, Array(16, 16, 16), 3))
      finally assert(ConvertFs.failOn.getAndSet(null) == null, "the injected failure never fired")
      awaitIdle()

      val partial = tree(local).filterNot { case (rel, _) => dotFile(rel) }
      assert(partial.nonEmpty && partial.size < wantChunks.size,
        s"${partial.size} of ${wantChunks.size} chunk files visible after the failure")
      partial.foreach { case (rel, bytes) =>
        assert(Blosc.decompress(bytes.toArray).nonEmpty, s"$rel does not decode")
        assert(want.get(rel).contains(bytes), s"visible file $rel differs from the clean conversion")
      }

      convert(src, out, Array(16, 16, 16), 3)
      // the sweep lists the same directory through the local filesystem
      ZarrIO.cleanupTmp(local, spark.sparkContext.hadoopConfiguration)
      assert(tree(local) == want)
      assert(tmps(local).isEmpty, "tmp files left after the re-run and sweep")
    }
}
