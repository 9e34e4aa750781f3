package graft.io.s3

import java.net.{HttpURLConnection, URL}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.Volume
import graft.io.zarr.{ZarrDataSource, ZarrIO, ZarrStore}
import graft.sources.SyntheticStack

/** The REAL object-store round trip (VERDICT r11 stretch ask #7): every
  * prior round proved the sink only against a local-disk mock scheme
  * because no S3 endpoint existed in the sandbox. This spec launches an
  * actual S3-protocol server (moto, available in the sandbox's Python
  * toolchain), creates a bucket over HTTP, and drives the engine's full
  * Zarr surface against `s3r://` — metadata writes, executor-side
  * tmp+rename chunk commits, DSv2 read-back, and a complete CZI ->
  * multiscale-Zarr stack conversion — with every byte crossing a real
  * HTTP S3 REST boundary (no Hadoop local-FS code paths involved).
  *
  * If `python3` or moto is unavailable the suite CANCELS (assume) rather
  * than fails: the contract being tested is the engine's, not the
  * sandbox's toolchain.
  */
class S3RestFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val port = 18947
  private val endpoint = s"http://127.0.0.1:$port"
  private val bucket = "graft-it"
  private var moto: Process = _
  private var motoUp = false

  private def httpCode(method: String, url: String): Int = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(2000)
    c.setReadTimeout(5000)
    c.setRequestProperty("Authorization",
      "AWS4-HMAC-SHA256 Credential=graft/20260101/us-east-1/s3/aws4_request, " +
      "SignedHeaders=host, Signature=0000")
    try c.getResponseCode finally c.disconnect()
  }

  override def beforeAll(): Unit = {
    val probe =
      try new ProcessBuilder("python3", "-c", "import moto.server").start().waitFor()
      catch { case _: Throwable => 1 }
    if (probe != 0) return // no python/moto: every test assumes(motoUp)
    moto = new ProcessBuilder("python3", "-m", "moto.server",
        "-H", "127.0.0.1", "-p", port.toString)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File("/tmp/moto-spec.log"))
      .start()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!motoUp && System.nanoTime() < deadline) {
      motoUp = try { httpCode("GET", s"$endpoint/"); true }
               catch { case _: Throwable => Thread.sleep(250); false }
    }
    if (motoUp) assert(httpCode("PUT", s"$endpoint/$bucket") == 200, "bucket create")
  }

  override def afterAll(): Unit = if (moto != null) moto.destroy()

  private lazy val spark = {
    val s = Spark.session(master = "local[4]", shufflePartitions = 4,
      appName = "graft-s3rest-test")
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.s3r.impl", classOf[S3RestFileSystem].getName)
    hc.set("fs.s3r.endpoint", endpoint)
    s
  }

  private def s3Conf: Configuration = {
    val c = new Configuration(false)
    c.set("fs.s3r.impl", classOf[S3RestFileSystem].getName)
    c.set("fs.s3r.endpoint", endpoint)
    c
  }

  test("filesystem contract over live HTTP: create/open/seek/rename/list/delete") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), s3Conf)
    val base = new Path(s"s3r://$bucket/contract")

    // create + overwrite contract
    val p1 = new Path(base, "a/file1.bin")
    val data = Array.tabulate[Byte](300000)(i => (i * 31 % 251).toByte)
    val o = fs.create(p1, true); o.write(data); o.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { fs.create(p1, false) }
    val st = fs.getFileStatus(p1)
    assert(!st.isDirectory && st.getLen == data.length)

    // ranged read + seek (windowed GETs behind one logical stream)
    val in = fs.open(p1, 4096)
    val head = new Array[Byte](10); in.readFully(0, head)
    assert(head.toSeq == data.take(10).toSeq)
    in.seek(299990)
    val tail = new Array[Byte](10); in.readFully(tail)
    assert(tail.toSeq == data.drop(299990).toSeq)
    in.close()

    // the Zarr commit protocol's two rename outcomes
    val tmp = new Path(base, "a/.tmp-x"); val dst = new Path(base, "a/commit")
    val o2 = fs.create(tmp, true); o2.write(7); o2.close()
    assert(fs.rename(tmp, dst), "tmp -> final commit")
    assert(!fs.exists(tmp) && fs.getFileStatus(dst).getLen == 1)
    val o3 = fs.create(tmp, true); o3.write(9); o3.close()
    assert(!fs.rename(tmp, dst), "rename onto an existing chunk must refuse")
    fs.delete(tmp, false)

    // virtual dirs: mkdirs marker + mixed listStatus
    assert(fs.mkdirs(new Path(base, "a/sub")))
    val names = fs.listStatus(new Path(base, "a")).map(s =>
      (s.getPath.getName, s.isDirectory)).toMap
    assert(names("file1.bin") == false && names("commit") == false && names("sub") == true)

    // HDFS contract: non-recursive delete of an EMPTY directory succeeds
    // (the dir's own mkdirs marker is not a child), and of a non-empty
    // one refuses
    assert(fs.mkdirs(new Path(base, "emptydir")))
    assert(fs.delete(new Path(base, "emptydir"), false))
    assert(!fs.exists(new Path(base, "emptydir")))
    intercept[java.io.IOException] { fs.delete(new Path(base, "a"), false) }

    // recursive delete sweeps objects and markers
    assert(fs.delete(base, true))
    intercept[java.io.FileNotFoundException] { fs.getFileStatus(p1) }
    fs.close()
  }

  test("multipart upload: bounded-memory writes assemble byte-exact objects") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    val c = s3Conf
    // the FS clamps to the protocol's 5 MiB part minimum (moto enforces
    // EntityTooSmall just like AWS), so the smallest forcible part is 5 MiB
    c.setInt("fs.s3r.multipart.part.size", 5 * 1024 * 1024)
    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), c)
    val base = new Path(s"s3r://$bucket/mpu")

    // 11.5 MiB -> 2 full 5 MiB parts + a 1.5 MiB final part
    val big = Array.tabulate[Byte](11776 * 1024)(i => ((i * 131) ^ (i >> 9)).toByte)
    val o = fs.create(new Path(base, "big.bin"), true)
    o.write(big, 0, 7 * 1024 * 1024)        // multi-part-sized single write
    o.write(big, 7 * 1024 * 1024, big.length - 7 * 1024 * 1024)
    o.close()
    assert(fs.getFileStatus(new Path(base, "big.bin")).getLen == big.length)
    val in = fs.open(new Path(base, "big.bin"), 65536)
    val back = new Array[Byte](big.length); in.readFully(0, back); in.close()
    assert(java.util.Arrays.equals(back, big), "multipart read-back byte-exact")

    // exact part-multiple: no short final part
    val exact = Array.tabulate[Byte](10 * 1024 * 1024)(i => (i % 251).toByte)
    val o2 = fs.create(new Path(base, "exact.bin"), true); o2.write(exact); o2.close()
    val in2 = fs.open(new Path(base, "exact.bin"), 65536)
    val back2 = new Array[Byte](exact.length); in2.readFully(0, back2); in2.close()
    assert(java.util.Arrays.equals(back2, exact), "exact-multiple read-back")

    // under one part: still the single-PUT fast path (same visible result)
    val small = "single put".getBytes("UTF-8")
    val o3 = fs.create(new Path(base, "small.bin"), true); o3.write(small); o3.close()
    assert(fs.getFileStatus(new Path(base, "small.bin")).getLen == small.length)

    assert(fs.delete(base, true))
    fs.close()
  }

  test("list pagination walks continuation tokens (page size 3)") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    val c = s3Conf
    c.setInt("fs.s3r.list.max.keys", 3)
    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), c)
    val base = new Path(s"s3r://$bucket/pages")
    for (i <- 0 until 11) {
      val o = fs.create(new Path(base, f"k$i%02d"), true); o.write(i); o.close()
    }
    val listed = fs.listStatus(base).map(_.getPath.getName).sorted
    assert(listed.toSeq == (0 until 11).map(i => f"k$i%02d"))
    assert(fs.delete(base, true))
    fs.close()
  }

  test("Zarr metadata + chunk sink + DSv2 read back over live S3 HTTP") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    spark.sparkContext // force init: s3r resolves via the session conf
    val dir = s"s3r://$bucket/zarr-store"
    val vol = Volume("s3", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))

    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)

    val back = spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", dir).option("stack", "s3").option("level", "0").load()
    assert(back.count() == 8)
    val r = back.filter(col("z") === 1 && col("y") === 0 && col("x") === 0).collect()(0)
    val cs = r.getSeq[Int](r.fieldIndex("shape"))
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4))
      assert(px(z * cs(3) * cs(4) + y * cs(4) + x) ==
        SyntheticStack.value(8 + z, y, x), s"voxel ($z,$y,$x)")
  }

  test("streaming zarr ingest: micro-batches commit chunks into the object store") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    spark.sparkContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.ZarrChunk
    import spark.implicits._
    // the production shape: data to the object store (tmp+rename commit
    // over HTTP), the streaming COMMIT LOG on a filesystem with atomic
    // rename (checkpoint logs, unlike chunk files, rely on it)
    val dir = s"s3r://$bucket/zarr-streamed"
    val ckpt = Files.createTempDirectory("zarr-s3-ckpt").toString
    val vol = Volume("sst", 0, Array(1L, 1L, 16L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    val all = SyntheticStack.generate(spark, vol).collect()
    val mem = MemoryStream[ZarrChunk](spark)
    for (chunk <- all) {
      val q = mem.toDS().writeStream.format("zarr")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      mem.addData(chunk)
      q.processAllAvailable(); q.stop()
    }
    val back = ZarrStore.read(spark, dir, "sst", 0)
    assert(back.map(_.numVoxels).sum == 16 * 8 * 8)
    back.foreach { ck =>
      val px = ck.pixels
      for (z <- 0 until 8; y <- 0 until 8; x <- 0 until 8)
        assert(px(z * 64 + y * 8 + x) ==
          SyntheticStack.value(ck.z * 8 + z, y, x), s"chunk z=${ck.z} voxel ($z,$y,$x)")
    }
  }

  test("whole ZeissJob with s3_location: discovery, derivatives upload, and stacks land in the bucket") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    spark.sparkContext
    // the reference's input contract: SPIM/*.czi + acquisition.json +
    // derivatives/ to sync (zeiss_job.py:187-205); s3_location overrides
    // output_directory exactly like the reference's aws-s3-sync path
    val in = Files.createTempDirectory("zeiss-s3-in")
    Files.createDirectories(in.resolve("SPIM"))
    Files.createDirectories(in.resolve("derivatives"))
    Files.write(in.resolve("derivatives/processing.json"), "{\"k\":1}".getBytes("UTF-8"))
    Files.write(in.resolve("acquisition.json"),
      """{"tiles":[{"coordinate_transformations":[
        |{"type":"scale","scale":["0.5","0.5","1.0"]},
        |{"type":"translation","translation":[0,0,0]}]}]}""".stripMargin.getBytes("UTF-8"))
    val vals = Array.tabulate(8, 16, 16)((z, y, x) => SyntheticStack.value(z, y, x))
    graft.sources.czi.SyntheticCzi.write(in.resolve("SPIM/tile(0).czi").toString, vals)

    val out = s"s3r://$bucket/job-run"
    val resp = graft.jobs.ZeissJob.run(spark, graft.jobs.ZeissJob.Settings(
      inputSource = in.toString, outputDirectory = "/nonexistent-must-not-be-used",
      s3Location = Some(out), chunkSize = Array(8, 8, 8), downsampleLevels = 2))
    assert(resp.statusCode == 200, resp.message)

    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), s3Conf)
    // derivatives synced (partition-0 upload in the reference)
    assert(fs.exists(new Path(s"$out/derivatives/processing.json")))
    // the converted stack: NGFF metadata + both levels, voxel scale from
    // acquisition.json ([z,y,x] = [1.0, 0.5, 0.5])
    assert(fs.exists(new Path(s"$out/.zgroup")))
    assert(fs.exists(new Path(s"$out/tile(0)/.zattrs")))
    assert(fs.exists(new Path(s"$out/tile(0)/0/.zarray")) &&
           fs.exists(new Path(s"$out/tile(0)/1/.zarray")))
    val attrs = {
      val st = fs.open(new Path(s"$out/tile(0)/.zattrs"), 4096)
      val txt = scala.io.Source.fromInputStream(st).mkString; st.close(); txt
    }
    assert(attrs.contains("0.5") && attrs.contains("multiscales"))
    fs.close()

    val back = spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", out).option("stack", "tile(0)").option("level", "0").load()
    assert(back.count() == 4) // 1x2x2 chunk grid of 8^3 chunks over 8x16x16
  }

  test("full CZI stack conversion lands a multiscale Zarr in the object store") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    spark.sparkContext
    val local = Files.createTempDirectory("czi-s3").resolve("stk.czi").toString
    val vals = Array.tabulate(12, 24, 24)((z, y, x) => SyntheticStack.value(z, y, x))
    graft.sources.czi.SyntheticCzi.write(local, vals)
    val out = s"s3r://$bucket/converted"
    val settings = graft.jobs.ZeissJob.Settings(
      inputSource = "/dev/null", outputDirectory = out,
      chunkSize = Array(8, 8, 8), downsampleLevels = 2)
    graft.jobs.ZeissJob.convertStack(spark, local, out, settings, Seq(1.0, 1.0, 1.0))

    // store layout: .zattrs is valid and both pyramid levels exist
    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), s3Conf)
    assert(fs.exists(new Path(s"$out/stk/.zattrs")))
    assert(fs.exists(new Path(s"$out/stk/0/.zarray")) && fs.exists(new Path(s"$out/stk/1/.zarray")))
    assert(fs.listFiles(new Path(s"$out/stk"), true) != null)
    fs.close()

    // level-0 voxel-exact read-back through DSv2 over HTTP
    val back = spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", out).option("stack", "stk").option("level", "0").load()
    assert(back.count() == math.ceil(12 / 8.0).toInt * 9) // 2x3x3 chunk grid
    val r = back.filter(col("z") === 0 && col("y") === 1 && col("x") === 2).collect()(0)
    val cs = r.getSeq[Int](r.fieldIndex("shape"))
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4))
      assert(px(z * cs(3) * cs(4) + y * cs(4) + x) ==
        SyntheticStack.value(z, 8 + y, 16 + x), s"voxel ($z,$y,$x)")
  }

  test("createIfAbsent: conditional PUT wins once, loses against an existing key, owns its own bytes on re-ask") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), s3Conf)
      .asInstanceOf[S3RestFileSystem]
    val p = new Path(s"s3r://$bucket/cond/ptr.commit")
    val a = "attempt-a".getBytes("UTF-8")
    val b = "attempt-b".getBytes("UTF-8")
    assert(fs.createIfAbsent(p, a), "first conditional create must win")
    assert(!fs.createIfAbsent(p, b), "second writer must lose against the existing key")
    // content is the WINNER's, untouched by the losing PUT
    val in = fs.open(p, 1024)
    val back = new Array[Byte](a.length); in.readFully(0, back); in.close()
    assert(java.util.Arrays.equals(back, a))
    // 412-ambiguity resolution: re-asking with our OWN bytes (the
    // retry-after-applied-PUT shape) reports ownership, not loss
    assert(fs.createIfAbsent(p, a), "byte-equal re-ask must resolve to 'won'")
    fs.delete(new Path(s"s3r://$bucket/cond"), true)
    fs.close()
  }

  test("Materialized pointer commit on a live s3r root: spark parquet write, pointer resolve, warm reuse") {
    assume(motoUp, "moto S3 server unavailable in this environment")
    spark.sparkContext
    graft.Scratch.withRoot(s"s3r://$bucket/mvroot") {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def consume(): Long = graft.queries.Materialized.rel(spark, "s3spec-ptr") {
        builds.incrementAndGet()
        spark.range(11).toDF("id")
      }.count()
      assert(consume() == 11 && builds.get() == 1)
      assert(consume() == 11 && builds.get() == 1, "warm reuse through the pointer on s3r")
      val fs = FileSystem.newInstance(java.net.URI.create(s"s3r://$bucket/"), s3Conf)
      val dir = new Path(s"s3r://$bucket/mvroot/graft-mv-s3spec-ptr")
      val ptr = new Path(dir, "rel.commit")
      assert(fs.exists(ptr), "pointer object must exist")
      val in = fs.open(ptr, 1024)
      val name = { val b = new Array[Byte](fs.getFileStatus(ptr).getLen.toInt)
        in.readFully(0, b); in.close(); new String(b, "UTF-8") }
      assert(name.startsWith("rel-attempt-"))
      assert(fs.exists(new Path(new Path(dir, name), "_SUCCESS")))
      // no rename-protocol residue and exactly one attempt dir
      val children = fs.listStatus(dir).map(_.getPath.getName).toVector
      assert(children.count(_.startsWith("rel-attempt-")) == 1, children.toString)
      assert(!children.exists(n => n.startsWith(".staging-") || n.startsWith(".trash-")),
        children.toString)
      fs.close()
    }
  }
}
