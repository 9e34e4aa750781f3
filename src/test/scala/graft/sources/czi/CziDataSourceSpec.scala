package graft.sources.czi

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Spark
import graft.sources.SyntheticStack

class CziDataSourceSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-czi-dsv2-test")

  private def fixture(): String = {
    val dir = Files.createTempDirectory("czi-dsv2").toString
    val path = s"$dir/f.czi"
    val chans = Array.tabulate(2, 16, 32, 32)((c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeChannels(path, chans)
    path
  }

  test("format('czi') reads voxel-exact chunk rows, same shape as the zarr connector") {
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("stack", "level", "t", "c", "z", "y", "x", "shape", "data"))
    val rows = df.collect()
    assert(rows.length == 2 * 2 * 2 * 2) // c * z-slabs * gridY * gridX
    val r = rows.find(r => r.getAs[Int]("c") == 1 && r.getAs[Int]("z") == 0 &&
      r.getAs[Int]("y") == 0 && r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(0, 0, 0) + 1000) & 0xFFFF))
    assert(r.getAs[String]("stack") == "f")
  }

  test("a chunk option that is not a positive integer fails naming the option") {
    val path = fixture()
    for ((k, v) <- Seq("chunk_z" -> "0", "chunk_y" -> "-8", "chunk_x" -> "x16")) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("czi").option("path", path).option(k, v).load()
      }
      assert(e.getMessage.contains(s"'$k'") && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("c/z filters prune input PARTITIONS, not just rows") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("c") === 1 && col("z") === 0)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // without pruning: 2 channels x 2 slabs = 4 partitions; pruned: 1
    assert(scan.inputPartitions.size == 1, scan.inputPartitions)
    assert(df.count() == 4) // the slab still cuts into 2x2 XY tiles
  }

  test("t filters prune frame partitions on a multi-timepoint file") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("czi-dsv2-t").toString
    val path = s"$dir/mt.czi"
    val frames = Array.tabulate(3, 2, 16, 32, 32)((t, c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeTC(path, frames)
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("t") === 2 && col("c") === 1)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // unpruned: 3 t x 2 c x 2 slabs = 12 partitions; t=2 && c=1 keeps 2
    assert(scan.inputPartitions.size == 2, scan.inputPartitions)
    val rows = df.collect()
    assert(rows.length == 2 * 2 * 2) // slabs x gridY x gridX
    val r = rows.find(r => r.getAs[Int]("z") == 0 && r.getAs[Int]("y") == 0 &&
      r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(0, 0, 0) + 3000 * 2 + 1000) & 0xFFFF))
  }

  test("long-typed literals prune exactly like int literals") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    def planned(f: org.apache.spark.sql.Column): Int = {
      val df = spark.read.format("czi").option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load().filter(f)
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get.inputPartitions.size
    }
    // 2 channels x 2 slabs = 4 unpruned; z <= 0 keeps one slab per channel.
    // A long literal (lit(0L) forces z to cast) must prune identically —
    // the round-3 review's fragile-contract finding.
    val intCase = planned(col("z") <= 0)
    val longCase = planned(col("z").cast("long") <= 0L)
    assert(intCase == 2, s"int literal planned $intCase")
    assert(longCase == intCase, s"long literal planned $longCase, int $intCase")
  }

  test("data-free projection synthesizes rows from arithmetic, no subblock read") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .select(col("c"), col("z"), col("y"), col("x"), col("shape"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // the pruned projection reaches the scan (no `data` in its description)
    val desc = scan.scan.description()
    assert(desc.contains("cols=c,z,y,x,shape"), desc)
    // rows are still exact: full grid with clamped edge shapes
    val rows = df.collect()
    assert(rows.length == 16)
    assert(rows.forall(_.getAs[Seq[Int]]("shape") == Seq(1, 1, 8, 16, 16)))
  }

  test("ungrouped COUNT/MIN/MAX answers at planning time in one no-IO task") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("c") === 1)
      .agg(count(lit(1)).as("n"), min(col("z")).as("mn"), max(col("x")).as("mx"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("agg=count(*),min(z),max(x)"),
      scan.scan.description())
    assert(scan.inputPartitions.size == 1, scan.inputPartitions)
    val r = df.collect().head
    assert(r.getLong(0) == 8L && r.getInt(1) == 0 && r.getInt(2) == 1, r)
  }

  test("GROUP BY coordinate axes pushes the whole aggregate into directory arithmetic") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture() // grid (t,c,z,y,x) = (1,2,2,2,2) at chunk (8,16,16)
    val t = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
    val g = t.filter(col("z") >= 1).groupBy(col("c"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("mz"), max(col("y")).as("my"))
    val scan = g.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("agg=count(*),min(z),max(y) groupBy=c"),
      scan.scan.description())
    // COMPLETE pushdown: no Spark-side HashAggregate re-aggregates the scan
    assert(!g.queryExecution.executedPlan.toString.contains("HashAggregate"),
      g.queryExecution.executedPlan.toString)
    val rows = g.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted
    assert(rows.toSeq == Seq((0, 4L, 1, 1), (1, 4L, 1, 1)), rows.toSeq)
    // empty selection: no groups at all
    assert(t.filter(col("z") > 100).groupBy(col("c")).count().collect().isEmpty)
  }

  test("CZI -> Zarr conversion is one connector-to-connector pipeline") {
    val path = fixture()
    val out = Files.createTempDirectory("czi-dsv2-out").toString
    val vol = graft.core.Volume("f", 0, Array(1L, 2L, 16L, 32L, 32L), Array(1, 1, 8, 16, 16))
    graft.io.zarr.ZarrIO.writeMetadata(out, vol, nLevels = 1)
    spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .write.format("zarr").option("path", out).mode("append").save()
    val back = spark.read.format("zarr").option("path", out).option("stack", "f")
      .load().collect()
    assert(back.length == 16)
    val b = back.find(r => r.getAs[Int]("c") == 1 && r.getAs[Int]("z") == 1 &&
      r.getAs[Int]("y") == 0 && r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(b.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(8, 0, 0) + 1000) & 0xFFFF))
  }

  private def czi(path: String) = spark.read.format("czi").option("path", path)
    .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16").load()

  private def batchScan(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
  }

  /** (c, z, y, x, voxel CRC) per row, sorted: rows compared by value. */
  private def keyed(rows: Seq[org.apache.spark.sql.Row]): Seq[(Int, Int, Int, Int, Long)] =
    rows.map { r =>
      val crc = new java.util.zip.CRC32(); crc.update(r.getAs[Array[Byte]]("data"))
      (r.getAs[Int]("c"), r.getAs[Int]("z"), r.getAs[Int]("y"), r.getAs[Int]("x"), crc.getValue)
    }.sorted

  test("an In on c prunes to its envelope and stays a residual") {
    val dir = Files.createTempDirectory("czi-dsv2-in").toString
    val path = s"$dir/f4.czi"
    SyntheticCzi.writeChannels(path, Array.tabulate(4, 16, 32, 32)((c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF))
    val all = czi(path)
    val in = all.filter(col("c").isin(1, 3))
    // unfiltered: 4 channels x 2 slabs; the envelope c in [1..3] keeps 3
    assert(batchScan(all).inputPartitions.size == 8)
    assert(batchScan(in).inputPartitions.size == 6, batchScan(in).inputPartitions)
    assert(batchScan(in).scan.description().contains("c=[1..3]"), batchScan(in).scan.description())
    // channel 2 is inside the envelope, so only the residual removes it
    val want = keyed(all.collect().toSeq.filter(r => Set(1, 3)(r.getAs[Int]("c"))))
    assert(want.size == 2 * 2 * 2 * 2)
    assert(keyed(in.collect().toSeq) == want)
  }

  test("a y or x filter stays a residual, so no aggregate is pushed") {
    val path = fixture() // grid (t,c,z,y,x) = (1,2,2,2,2)
    for ((f, maxX) <- Seq((col("y") === 1, 1), (col("x") < 1, 0))) {
      val scanned = czi(path).filter(f)
      val desc = batchScan(scanned).scan.description()
      assert(!desc.contains("y=[") && !desc.contains("x=["), desc)
      assert(scanned.count() == 8)
      val agg = scanned.agg(count(lit(1)), min(col("z")), max(col("x")))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate") && !plan.contains("agg="), plan)
      val r = agg.collect().head
      assert((r.getLong(0), r.getInt(1), r.getInt(2)) == (8L, 0, maxX), r)
    }
  }

  test("GROUP BY c count/min/max is equal over a CZI file and the Zarr store converted from it") {
    val path = fixture()
    val out = Files.createTempDirectory("czi-dsv2-agg-out").toString
    val vol = graft.core.Volume("f", 0, Array(1L, 2L, 16L, 32L, 32L), Array(1, 1, 8, 16, 16))
    graft.io.zarr.ZarrIO.writeMetadata(out, vol, nLevels = 1)
    czi(path).write.format("zarr").option("path", out).mode("append").save()
    val zarr = spark.read.format("zarr").option("path", out).option("stack", "f").load()
    def grouped(df: org.apache.spark.sql.DataFrame) = {
      val g = df.filter(col("z") >= 1).groupBy(col("c"))
        .agg(count(lit(1)), min(col("z")), max(col("y")), min(col("x")))
      assert(batchScan(g).scan.description().contains("groupBy=c"), batchScan(g).scan.description())
      g.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).sorted.toSeq
    }
    val fromCzi = grouped(czi(path))
    assert(fromCzi == Seq((0, 4L, 1, 1, 0), (1, 4L, 1, 1, 0)), fromCzi)
    assert(grouped(zarr) == fromCzi)
  }

  test("EXPLAIN shows the CziScan and ZarrScan descriptions unchanged") {
    val path = fixture()
    def explained(df: org.apache.spark.sql.DataFrame, want: String): Unit = {
      assert(batchScan(df).scan.description() == want, batchScan(df).scan.description())
      assert(df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode).contains(want))
    }
    explained(czi(path).filter(col("c") === 1 && col("z") >= 1).select(col("z"), col("data")),
      s"CziScan($path c=[1..1],z=[1..*] cols=z,data)")
    explained(czi(path).filter(col("z") <= 0).groupBy(col("c")).agg(count(lit(1)), max(col("y"))),
      s"CziScan($path z=[0..0] cols=stack,level,t,c,z,y,x,shape,data agg=count(*),max(y) groupBy=c)")
    val out = Files.createTempDirectory("czi-dsv2-explain").toString
    val vol = graft.core.Volume("f", 0, Array(1L, 2L, 16L, 32L, 32L), Array(1, 1, 8, 16, 16))
    graft.io.zarr.ZarrIO.writeMetadata(out, vol, nLevels = 1)
    val zarr = spark.read.format("zarr").option("path", out).option("stack", "f").load()
    explained(zarr.filter(col("y") === 1 && col("x") < 1).select(col("c"), col("shape")),
      s"ZarrScan($out/f/0 y=[1..1],x=[0..0] cols=c,shape)")
    explained(zarr.agg(min(col("z"))),
      s"ZarrScan($out/f/0 cols=stack,level,t,c,z,y,x,shape,data agg=min(z))")
  }
}
