package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Spark
import graft.core.Volume
import graft.io.zarr.{ZarrDataSource, ZarrIO, ZarrStore}
import graft.sources.SyntheticStack

/** A `mock://` Hadoop FileSystem backed by the local disk — the standard
  * offline stand-in for an object store's non-default scheme. */
class MockSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mock:///")
}

/** The object-store readiness gate the sandbox allows: no S3 endpoint
  * exists here, but every sink/scan must already work against a
  * NON-DEFAULT FileSystem scheme that is only resolvable through the
  * SESSION's Hadoop configuration (`spark.hadoop.fs.mock.impl`). This
  * fails against two real bug classes:
  *   - any path that assumes `file://`/java.io instead of the Hadoop FS
  *     API breaks on the scheme;
  *   - any path that builds a fresh `new Configuration()` (dropping the
  *     session's `spark.hadoop.*` overlays — exactly where s3a
  *     credentials and `fs.<scheme>.impl` registrations live) cannot
  *     resolve `mock://` AT ALL and dies with "No FileSystem for scheme"
  *     — driver-side or inside an executor task.
  */
class MockSchemeFsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = Spark.session(master = "local[4]", shufflePartitions = 4,
      appName = "graft-mockfs-test")
    // registration lives ONLY in the session conf — the point of the test
    s.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockSchemeFs].getName)
    s
  }

  test("Zarr metadata + chunk sink + DSv2 read work on a non-default scheme") {
    spark.sparkContext // force session init: mock:// resolves via ITS conf
    val dir = "mock://" + Files.createTempDirectory("zarr-mockfs").toString
    val vol = Volume("mk", 0, Array(1L, 1L, 16L, 16L, 16L), Array(1, 1, 8, 8, 8))

    // driver-side metadata write + executor-side chunk write, whose codec
    // the tasks read from the .zarray through the same scheme
    ZarrIO.writeMetadata(dir, vol, nLevels = 1)
    ZarrStore.write(SyntheticStack.generate(spark, vol), dir)

    // DSv2 read back through the same scheme, voxel-exact
    val back = spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", dir).option("stack", "mk").option("level", "0").load()
    assert(back.count() == 8)
    val r = back.filter(col("z") === 1 && col("y") === 0 && col("x") === 0).collect()(0)
    val cs = r.getSeq[Int](r.fieldIndex("shape"))
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    for (z <- 0 until cs(2); y <- 0 until cs(3); x <- 0 until cs(4))
      assert(px(z * cs(3) * cs(4) + y * cs(4) + x) ==
        SyntheticStack.value(8 + z, y, x), s"voxel ($z,$y,$x)")

    // DSv2 write path (factories ship the session conf to executor tasks)
    spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", dir).option("stack", "mk").option("level", "0").load()
      .write.format(classOf[ZarrDataSource].getName)
      .option("path", dir).option("stack", "mk").mode("overwrite").save()
    assert(spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", dir).option("stack", "mk").option("level", "0")
      .load().count() == 8)
  }

  test("HadoopConf.get keeps the session's overlays on a thread with no active session") {
    spark.sparkContext
    // the active session is an inheritable thread-local, so the probe
    // thread clears its own copy first; the default session remains
    var seen: Option[String] = None
    val t = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      assert(org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
      seen = Option(graft.core.HadoopConf.get.get("fs.mock.impl"))
    })
    t.start(); t.join()
    assert(seen.contains(classOf[MockSchemeFs].getName), seen)
  }

  test("CZI scan reads subblocks through a non-default scheme") {
    spark.sparkContext // force session init: mock:// resolves via ITS conf
    val dir = Files.createTempDirectory("czi-mockfs")
    val local = dir.resolve("mk.czi").toString
    graft.sources.czi.SyntheticCzi.write(local,
      Array.tabulate(4, 8, 8)((z, y, x) => SyntheticStack.value(z, y, x)))
    val path = "mock://" + local
    val (vol, idx) = graft.sources.czi.CziSource.volume(path, "mk", Array(4, 8, 8))
    val chunks = graft.sources.czi.CziSource.scan(spark, path, vol, idx).collect()
    assert(chunks.length == 1)
    val px = chunks(0).pixels
    for (z <- 0 until 4; y <- 0 until 8; x <- 0 until 8)
      assert(px(z * 64 + y * 8 + x) == SyntheticStack.value(z, y, x), s"($z,$y,$x)")
  }

  // --- the WHOLE gate surface under a scheme-qualified scratch root
  //     (VERDICT r16 ask #4): the z* fixture queries and the StreamGate
  //     staging previously required a LOCAL root (java.nio); both now
  //     stage through the Hadoop FS API, proven end-to-end here. -------

  test("z-queries run end-to-end with the scratch root on mock:// (Zarr store + CZI fixture)") {
    spark.sparkContext // force session init: mock:// resolves via ITS conf
    // reference results from the default (hermetic local temp) root
    def run(name: String) = graft.SparkEntry.queries(name)(spark, "")
      .collect().map(_.toString).sorted.toSeq
    val wantZ2 = run("z2_zarr_roundtrip")
    val wantZ6 = run("z6_multichannel")
    val local = Files.createTempDirectory("gate-mockroot").toString
    graft.Scratch.withRoot("mock://" + local) {
      // the reference runs above pinned these tags to the temp root —
      // drop the pins so the in-window touch re-resolves under mock://
      graft.Scratch.evict("zarr-q", "czi-mc-q")
      // z2: ZarrIO metadata + chunk writes + read-back; z6: SyntheticCzi
      // whole-file Hadoop write + CziSource scan — all through mock://
      assert(graft.Scratch.dir("zarr-q").startsWith("mock:/"))
      assert(run("z2_zarr_roundtrip") == wantZ2)
      assert(run("z6_multichannel") == wantZ6)
    }
  }

  test("stream family runs end-to-end with the scratch root on mock:// (chunked replay + windowed agg)") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sparkContext
    val local = Files.createTempDirectory("stream-mockroot").toString
    graft.Scratch.withRoot("mock://" + local) {
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      // the gate's own staging helper: ntile re-chunk + mtime stamping,
      // now through the Hadoop FS API on the mock scheme
      val dir = graft.tools.StreamGate.chunkBy(ev, "ts", 3, "mockev")
      assert(dir.startsWith("mock:/"), dir)
      val streamed = graft.streaming.EventStream.tumblingCounts(
        graft.streaming.EventStream.read(spark, dir, maxFilesPerTrigger = 1))
      val q = streamed.writeStream.format("memory").queryName("mock_tumbling")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      q.stop()
      val got = spark.sql(
        "SELECT unix_timestamp(bucket) AS b, event_type, n FROM mock_tumbling ORDER BY b, event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val maxSec = ev.agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
      val want = ev
        .select((floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("b"),
          col("event_type"))
        .groupBy(col("b"), col("event_type")).agg(count(lit(1)).as("n"))
        .filter(col("b") + 3600 <= maxSec - 7200)
        .orderBy(col("b"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(want.nonEmpty, "fixture must close at least one window")
      assert(got == want, s"streamed ${got.take(3)} != batch ${want.take(3)}")
    }
  }
}
