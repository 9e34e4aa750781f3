package graft.io.zarr

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Spark
import graft.core.Volume
import graft.sources.SyntheticStack

/** A local-disk `countfs://` filesystem that records the paths passed to
  * `exists` and `open`, so a test can count a reader's metadata calls. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def exists(f: Path): Boolean = { CountingFs.exists.add(f.toUri.getPath); super.exists(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val exists = new ConcurrentLinkedQueue[String]()
  val opened = new ConcurrentLinkedQueue[String]()
}

class ZarrDataSourceSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-dsv2-test")

  private val fmt = classOf[ZarrDataSource].getName

  test("format('zarr') write -> read roundtrip via DataSource V2") {
    val dir = Files.createTempDirectory("zarr-dsv2").toString
    val vol = Volume("dsv2", 0, Array(1L, 1L, 20L, 20L, 20L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)

    SyntheticStack.generate(spark, vol).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()

    val back = spark.read.format(fmt)
      .option("path", dir).option("stack", "dsv2").option("level", "0")
      .load()
    assert(back.schema.fieldNames.toSeq ==
      Seq("stack", "level", "t", "c", "z", "y", "x", "shape", "data"))
    assert(back.count() == 27)

    // voxel-exact vs the generator
    val rows = back.collect()
    rows.foreach { r =>
      val (cz, cy, cx) = (r.getAs[Int]("z"), r.getAs[Int]("y"), r.getAs[Int]("x"))
      val cs = r.getSeq[Int](r.fieldIndex("shape"))
      val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
      for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4))
        assert(px(z * cs(3) * cs(4) + y * cs(4) + x) ==
          SyntheticStack.value(cz * 8 + z, cy * 8 + y, cx * 8 + x))
    }

    // predicate + projection over the chunk relation behave like any table
    val n = back.filter(col("z") === 2).select(col("y"), col("x")).count()
    assert(n == 9)
  }

  test("mode('overwrite') truncates stale chunks but keeps store metadata") {
    val dir = Files.createTempDirectory("zarr-dsv2-trunc").toString
    val vol = Volume("tr", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    val full = SyntheticStack.generate(spark, vol).toDF()
    full.write.format(fmt).option("path", dir).mode("append").save()
    assert(spark.read.format("zarr").option("path", dir).option("stack", "tr")
      .load().count() == 8)

    // overwrite with only one chunk: the other 7 files must be gone
    // (read back as fill-value zeros), and .zarray must survive; the
    // truncate must be scoped — an unscoped overwrite on a non-empty
    // store is rejected (see the guard test below)
    full.filter(col("z") === 0 && col("y") === 0 && col("x") === 0)
      .write.format(fmt).option("path", dir).option("stack", "tr")
      .mode("overwrite").save()
    assert(new java.io.File(s"$dir/tr/0/.zarray").exists())
    val back = spark.read.format("zarr").option("path", dir).option("stack", "tr")
      .load().collect()
    assert(back.length == 8) // grid is arithmetic, missing chunks are zeros
    val nonZero = back.filter(_.getAs[Array[Byte]]("data").exists(_ != 0))
    assert(nonZero.map(r => (r.getAs[Int]("z"), r.getAs[Int]("y"), r.getAs[Int]("x"))).toSeq
      == Seq((0, 0, 0)))
  }

  test("write path honors .zarray compressor=null (raw chunks on disk)") {
    val dir = Files.createTempDirectory("zarr-dsv2-raw").toString
    val vol = Volume("raw", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1, compressed = false)
    SyntheticStack.generate(spark, vol).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()
    // the store said compressor=null, so the chunk file must be raw pixels
    val f = new java.io.File(s"$dir/raw/0/0/0/0/0/0")
    assert(f.length() == 8 * 8 * 8 * 2)
    // and a metadata-honoring reader decodes it correctly
    val back = spark.read.format("zarr").option("path", dir).option("stack", "raw")
      .load().collect()
    assert(back.length == 1)
    val px = graft.core.PixelCodec.toInts(back(0).getAs[Array[Byte]]("data"))
    assert(px(0) == SyntheticStack.value(0, 0, 0))
  }

  test("overwrite with option('stack') truncates only that stack") {
    val dir = Files.createTempDirectory("zarr-dsv2-trunc-scope").toString
    val volA = Volume("a", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    val volB = Volume("b", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, volA, nLevels = 1)
    ZarrIO.writeMetadata(dir, volB, nLevels = 1)
    SyntheticStack.generate(spark, volA).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()
    SyntheticStack.generate(spark, volB).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()

    // scoped overwrite of stack 'a' must not touch stack 'b''s chunks
    SyntheticStack.generate(spark, volA).toDF()
      .write.format(fmt).option("path", dir).option("stack", "a")
      .mode("overwrite").save()
    val b = spark.read.format("zarr").option("path", dir).option("stack", "b")
      .load().collect()
    assert(b.length == 1 && b(0).getAs[Array[Byte]]("data").exists(_ != 0),
      "stack 'b' lost its data to a stack-'a' overwrite")
  }

  test("unscoped overwrite on a multi-stack store fails instead of truncating both") {
    val dir = Files.createTempDirectory("zarr-dsv2-trunc-guard").toString
    val volA = Volume("a", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    val volB = Volume("b", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, volA, nLevels = 1)
    ZarrIO.writeMetadata(dir, volB, nLevels = 1)
    SyntheticStack.generate(spark, volA).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()
    SyntheticStack.generate(spark, volB).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()

    val e = intercept[Exception] {
      SyntheticStack.generate(spark, volA).toDF()
        .write.format(fmt).option("path", dir).mode("overwrite").save()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).flatMap(c => Option(c.getMessage)).exists(_.contains("option(\"stack\"")), e)
    // and neither stack lost data
    for (st <- Seq("a", "b")) {
      val rows = spark.read.format("zarr").option("path", dir).option("stack", st)
        .load().collect()
      assert(rows.length == 1 && rows(0).getAs[Array[Byte]]("data").exists(_ != 0),
        s"stack '$st' lost data to the rejected truncate")
    }
  }

  test("streaming sink rejects Complete-mode truncate instead of appending silently") {
    val b = new ZarrWriteBuilder("/tmp/nonexistent-zarr", None, None)
    b.truncate()
    intercept[UnsupportedOperationException] { b.build().toStreaming }
  }

  test("coordinate filters prune the planned sub-grid, not just rows") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("zarr-dsv2-push").toString
    val vol = Volume("pd", 0, Array(1L, 1L, 40L, 40L, 40L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    SyntheticStack.generate(spark, vol).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()

    val filtered = spark.read.format("zarr")
      .option("path", dir).option("stack", "pd").load()
      .filter(col("z") === 2 && col("y") >= 3 && col("x") < 2)
    // values are exact (grid enumeration enforces the range)
    val got = filtered.select(col("z"), col("y"), col("x")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(got == (for (y <- 3 to 4; x <- 0 to 1) yield (2, y, x)).sorted.toSeq)

    // and the scan itself planned only the 1x2x2 sub-grid
    val scans = filtered.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.inputPartitions.size <= 4, scans.head.inputPartitions.size)
    assert(scans.head.scan.description().contains("z=[2..2]"), scans.head.scan.description())
  }

  test("a data-free projection never opens chunk files") {
    val dir = Files.createTempDirectory("zarr-dsv2-prune").toString
    val vol = Volume("pr", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    SyntheticStack.generate(spark, vol).toDF()
      .write.format(fmt).option("path", dir).mode("append").save()
    // poison every chunk file: any read attempt would fail Blosc validation
    for (f <- new java.io.File(s"$dir/pr/0").listFiles if !f.getName.startsWith(".")) {
      def poison(file: java.io.File): Unit =
        if (file.isDirectory) file.listFiles.foreach(poison)
        else java.nio.file.Files.write(file.toPath, Array[Byte](1, 2, 3))
      poison(f)
    }
    val coordsOnly = spark.read.format("zarr")
      .option("path", dir).option("stack", "pr").load()
      .select(col("z"), col("y"), col("x"), col("shape"))
    assert(coordsOnly.count() == 8) // would throw if data were decoded
    val withData = spark.read.format("zarr")
      .option("path", dir).option("stack", "pr").load()
    intercept[org.apache.spark.SparkException](withData.collect())
  }

  test("count/min/max over coordinates push down to grid arithmetic (no IO)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("zarr-dsv2-agg").toString
    val vol = Volume("ag", 0, Array(1L, 1L, 40L, 24L, 24L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    // NO chunk files written: a scan that touched data would read zeros,
    // but the aggregate must come straight from the .zarray arithmetic
    val t = spark.read.format("zarr").option("path", dir).option("stack", "ag").load()

    val full = t.agg(count(lit(1)).as("n"), min(col("z")).as("minz"), max(col("z")).as("maxz"))
    val r = full.collect()(0)
    assert((r.getLong(0), r.getInt(1), r.getInt(2)) == (45L, 0, 4))
    val scan = full.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.scan.description().contains("agg=count(*),min(z),max(z)"),
      scan.scan.description())
    assert(scan.inputPartitions.size == 1)

    // composes with filter pushdown: bounds clip the arithmetic
    val filt = t.filter(col("z") >= 2 && col("y") === 1).agg(count(lit(1)), max(col("z")))
    val fr = filt.collect()(0)
    assert((fr.getLong(0), fr.getInt(1)) == (3L * 3, 4))

    // an empty sub-grid yields count 0 / null extrema
    val empty = t.filter(col("z") > 100).agg(count(lit(1)), max(col("z"))).collect()(0)
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("GROUP BY coordinate axes pushes the whole aggregate into grid arithmetic") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("zarr-dsv2-gagg").toString
    val vol = Volume("gg", 0, Array(1L, 3L, 40L, 24L, 24L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    // NO chunk files: grouped counts/extrema must come from .zarray math
    val t = spark.read.format("zarr").option("path", dir).option("stack", "gg").load()

    val g = t.groupBy(col("c"), col("z"))
      .agg(count(lit(1)).as("n"), min(col("y")).as("miny"), max(col("x")).as("maxx"))
    val rows = g.collect()
    assert(rows.length == 3 * 5) // c in 0..2, z in 0..4
    assert(rows.forall(r => r.getLong(2) == 9L && r.getInt(3) == 0 && r.getInt(4) == 2))
    val scan = g.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.scan.description().contains("agg=count(*),min(y),max(x) groupBy=c,z"),
      scan.scan.description())
    // COMPLETE pushdown: no Spark-side HashAggregate re-aggregates the scan
    assert(!g.queryExecution.executedPlan.toString.contains("HashAggregate"),
      g.queryExecution.executedPlan.toString)

    // composes with filter pushdown; grouped MIN/MAX of a grouped axis is
    // the group value itself
    val f = t.filter(col("z") >= 1 && col("z") <= 3).groupBy(col("z"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("mz"))
    val fr = f.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).sorted
    assert(fr.toSeq == Seq((1, 27L, 1), (2, 27L, 2), (3, 27L, 3)))

    // an empty sub-grid has no groups at all
    assert(t.filter(col("z") > 100).groupBy(col("z")).count().collect().isEmpty)

    // a non-coordinate grouping column falls back to a real scan-side agg
    // (AQE wraps the plan, so assert on the rendered plan string)
    val nope = t.groupBy(col("stack")).agg(count(lit(1)).as("n"))
    assert(nope.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("gg", 135L)))
    val nplan = nope.queryExecution.executedPlan.toString
    assert(!nplan.contains("groupBy="), nplan)
    assert(nplan.contains("HashAggregate"), nplan)
  }

  test("writeStream into a zarr store: incremental chunk ingest, exactly-once by rename") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.ZarrChunk
    import spark.implicits._
    val dir = Files.createTempDirectory("zarr-stream").toString
    val ckpt = Files.createTempDirectory("zarr-stream-ckpt").toString
    val vol = Volume("st", 0, Array(1L, 1L, 16L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)

    val all = SyntheticStack.generate(spark, vol).collect()
    assert(all.length == 2)
    val mem = MemoryStream[ZarrChunk](spark)
    val q = mem.toDS().writeStream.format("zarr")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    mem.addData(all(0))
    q.processAllAvailable()
    q.stop()
    // second micro-batch stream (fresh AvailableNow run, same checkpoint)
    val q2 = mem.toDS().writeStream.format("zarr")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    mem.addData(all(1))
    q2.processAllAvailable()
    q2.stop()

    val back = ZarrStore.read(spark, dir, "st", 0)
    assert(back.map(_.numVoxels).sum == 16 * 8 * 8)
    back.foreach { ck =>
      val px = ck.pixels
      for (z <- 0 until 8; y <- 0 until 8; x <- 0 until 8)
        assert(px(z * 64 + y * 8 + x) ==
          SyntheticStack.value(ck.z * 8 + z, y, x))
    }
  }

  test("option('level') reads pyramid levels above 0 through the connector") {
    val dir = Files.createTempDirectory("zarr-dsv2-lvl").toString
    val vol = Volume("lv", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))
    val l0 = SyntheticStack.generate(spark, vol)
    ZarrIO.writeMetadata(dir, vol, nLevels = 2)
    ZarrStore.write(l0, dir)
    ZarrStore.write(graft.operators.Pyramid.build(spark, l0, vol, nLevels = 2)._2, dir)

    val back = spark.read.format("zarr")
      .option("path", dir).option("stack", "lv").option("level", "1")
      .load().collect()
    assert(back.length == 1 && back(0).getAs[Int]("level") == 1)
    val px = graft.core.PixelCodec.toInts(back(0).getAs[Array[Byte]]("data"))
    // level-1 voxel (0,0,0) = mean of the 2x2x2 block at the origin
    var sum = 0L
    for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
      sum += SyntheticStack.value(dz, dy, dx)
    assert(px(0) == (sum / 8).toInt)
  }

  test("a write without the level's .zarray fails instead of guessing a codec") {
    val dir = Files.createTempDirectory("zarr-dsv2-nometa").toString
    val vol = Volume("nm", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    val e = intercept[org.apache.spark.SparkException] {
      ZarrStore.write(SyntheticStack.generate(spark, vol), dir)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).mkString("\n")
    assert(msgs.contains("nm/0/.zarray"), msgs)
    assert(!new java.io.File(s"$dir/nm/0/0").exists(), "a chunk landed without metadata")
  }

  test("the writer encodes at the clevel and dtype stride the .zarray declares") {
    import graft.core.{PixelDtype, ZarrChunk}
    val dir = Files.createTempDirectory("zarr-dsv2-codec").toString
    val vol = Volume("cd", 0, Array(1L, 1L, 32L, 32L, 32L), Array(1, 1, 32, 32, 32), PixelDtype.F32)
    ZarrIO.writeMetadata(dir, vol, nLevels = 1, clevel = 9)
    assert(ZarrIO.readZarray(dir, "cd", 0).clevel == 9)
    val rnd = new scala.util.Random(7)
    val data = graft.core.PixelCodec.f32ToBytes(
      Array.tabulate(32 * 32 * 32)(i => (i % 61) * 0.25f + rnd.nextInt(8)))
    import spark.implicits._
    ZarrStore.write(Seq(ZarrChunk("cd", 0, 0, 0, 0, 0, 0, Array(1, 1, 32, 32, 32), data)).toDS(), dir)
    val onDisk = Files.readAllBytes(java.nio.file.Paths.get(dir, "cd", "0", "0", "0", "0", "0", "0"))
    assert(onDisk.sameElements(graft.core.Blosc.compress(data, typesize = 4, clevel = 9)))
    assert(!onDisk.sameElements(graft.core.Blosc.compress(data, typesize = 4, clevel = 3)))
    assert(!onDisk.sameElements(graft.core.Blosc.compress(data, typesize = 2, clevel = 9)))
  }

  test("missing chunk files read as fill-value zeros") {
    val dir = Files.createTempDirectory("zarr-dsv2-fill").toString
    val vol = Volume("s", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    // no chunks written at all; also exercises the registered short name
    val back = spark.read.format("zarr")
      .option("path", dir).option("stack", "s").load()
    val rows = back.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Array[Byte]]("data").forall(_ == 0))
  }

  test("a .zarray with a non-Blosc compressor fails at planning, naming its path and codec") {
    val dir = Files.createTempDirectory("zarr-dsv2-foreign").toString
    val vol = Volume("fz", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    // a numcodecs Zstd compressor carries `level`, not Blosc's `clevel`
    val zarray = java.nio.file.Paths.get(dir, "fz", "0", ".zarray")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(zarray))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    json.putObject("compressor").put("id", "zstd").put("level", 1)
    Files.writeString(zarray, json.toString)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("zarr").option("path", dir).option("stack", "fz").load().collect()
    }
    assert(e.getMessage.contains("fz/0/.zarray") && e.getMessage.contains("\"zstd\""), e.getMessage)
  }

  test("an IO error on a chunk propagates as is, not as a corrupt chunk") {
    val dir = Files.createTempDirectory("zarr-dsv2-ioerr").toString
    val vol = Volume("io", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    // a directory where the chunk file belongs: it exists, but open fails
    Files.createDirectories(java.nio.file.Paths.get(dir, "io", "0", "0", "0", "0", "0", "0"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("zarr").option("path", dir).option("stack", "io").load().collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[java.io.IOException]), chain.mkString("\n"))
    assert(!chain.exists(c => String.valueOf(c.getMessage).contains("corrupt zarr chunk")),
      chain.mkString("\n"))
  }

  test("reading a level asks the filesystem whether a chunk exists for no chunk") {
    // on an object store each metadata call is a HEAD: the reader must
    // learn a chunk is missing from getFileStatus alone
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val local = Files.createTempDirectory("zarr-dsv2-heads").toString
    val dir = "countfs://" + local
    val vol = Volume("hd", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)
    // one chunk missing: it must still read as fill-value zeros
    Files.delete(java.nio.file.Paths.get(local, "hd", "0", "0", "0", "1", "1", "1"))
    CountingFs.exists.clear(); CountingFs.opened.clear()
    val rows = spark.read.format("zarr").option("path", dir).option("stack", "hd").load().collect()
    assert(rows.length == 8)
    val zero = rows.filter(_.getAs[Array[Byte]]("data").forall(_ == 0))
    assert(zero.map(r => (r.getAs[Int]("z"), r.getAs[Int]("y"), r.getAs[Int]("x"))).toSeq == Seq((1, 1, 1)))
    def chunkPaths(q: ConcurrentLinkedQueue[String]) =
      q.asScala.filter(p => p.startsWith(s"$local/hd/0/") && !p.split('/').last.startsWith("."))
    assert(chunkPaths(CountingFs.exists).isEmpty, CountingFs.exists.asScala.mkString("\n"))
    // and the reader did go through this filesystem: 7 chunk files opened
    assert(chunkPaths(CountingFs.opened).toSet.size == 7, CountingFs.opened.asScala.mkString("\n"))
  }

  test("a chunk whose length or header exceeds its clamped size fails before allocating for it") {
    val dir = Files.createTempDirectory("zarr-dsv2-hdr").toString
    val vol = Volume("hz", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    val chunk = java.nio.file.Paths.get(dir, "hz", "0", "0", "0", "0", "0", "0")
    Files.createDirectories(chunk.getParent)
    // a memcpy frame whose header claims nbytes = Int.MaxValue: sized by
    // that header, the output array is an OutOfMemoryError, fatal to an
    // executor. The reader runs here on the test thread, not in a task.
    val huge = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(2.toByte).put(1.toByte).put(((4 << 5) | 0x02).toByte).put(2.toByte)
      .putInt(Int.MaxValue).putInt(Int.MaxValue).putInt(32).array()
    // 1024 voxel bytes: no Blosc frame of them is longer than 1040
    for ((bytes, why) <- Seq(huge -> "header nbytes=2147483647, expected 1024",
                             new Array[Byte](1041) -> "1041 bytes, at most 1040 expected")) {
      Files.write(chunk, bytes)
      val reader = new ZarrPartitionReader(ZarrReaderFactory(dir, "hz", 0, vol.shape, vol.chunk,
        compressed = true, itemSize = 2, base = Array.fill(5)(0L), ext = Array.fill(5)(1L),
        cols = Array("data"), hconf = graft.core.HadoopConf.snapshot(new org.apache.hadoop.conf.Configuration())),
        first = 0L, last = 0L)
      val e = intercept[IllegalStateException](reader.next())
      assert(e.getMessage.startsWith(s"corrupt zarr chunk at $dir/hz/0/0/0/0/0/0: ") &&
        e.getMessage.contains(why), e.getMessage)
    }
  }

  test("a flipped payload byte fails the read through the zstd checksum") {
    val dir = Files.createTempDirectory("zarr-dsv2-flip").toString
    val vol = Volume("fl", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 16, 16, 16))
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)
    val chunk = java.nio.file.Paths.get(dir, "fl", "0", "0", "0", "0", "0", "0")
    val frame = Files.readAllBytes(chunk)
    assert((frame(2) & 0x02) == 0, "the chunk must be a zstd frame, not stored raw")
    frame(frame.length / 2) = (frame(frame.length / 2) ^ 0x01).toByte
    Files.write(chunk, frame)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("zarr").option("path", dir).option("stack", "fl").load().collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).mkString("\n")
    assert(msgs.contains(s"corrupt zarr chunk at $dir/fl/0/0/0/0/0/0"), msgs)
  }
}
