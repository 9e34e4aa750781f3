package graft.tools

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.Volume
import graft.io.zarr.ZarrIO

/** [[Census.measure]] reports one record per SQL execution, with counters,
  * final-plan node counts, exchanges and scans that belong to that
  * execution alone, and leaves no listener behind. An overwrite-mode write
  * runs as the `overwrite` command. */
class CensusSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[2]", shufflePartitions = 2,
    appName = "graft-census-test")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def shuffled(): Unit =
    noop(spark.range(0, 20000).withColumn("k", col("id") % 7)
      .repartition(col("k")).groupBy(col("k")).count())

  private def only(execs: Seq[Census.Execution]): Census.Execution = {
    assert(execs.map(_.funcName) == Seq("overwrite"), execs)
    execs.head
  }

  test("repartition + groupBy reports its shuffle exchange and shuffle bytes") {
    val e = only(Census.measure(spark)(shuffled()))
    assert(e.nodes("ShuffleExchange") >= 1 && e.shuffleWriteBytes > 0 && e.shuffleReadBytes > 0, e)
    assert(e.jobs >= 1 && e.stages >= 2 && e.tasks >= 2 && e.executorCpuMs > 0 && e.wallMs > 0, e)
  }

  test("a broadcast() join reports exactly one broadcast exchange") {
    val big = spark.range(0, 5000).toDF("id")
    val small = spark.range(0, 10).toDF("sid")
    val e = only(Census.measure(spark)(noop(big.join(broadcast(small), col("id") === col("sid")))))
    assert(e.nodes("BroadcastExchange") == 1 && e.nodes("BroadcastHashJoin") == 1, e)
    assert(e.nodes("ShuffleExchange") == 0, e)
  }

  test("an eager localCheckpoint is its own execution, ahead of the action's") {
    val execs = Census.measure(spark) {
      noop(spark.range(0, 1000).withColumn("k", col("id") % 3).localCheckpoint(true))
    }
    assert(execs.map(_.funcName) == Seq("localCheckpoint", "overwrite"), execs)
    assert(execs.forall(_.jobs >= 1), execs)
  }

  test("back-to-back measures do not leak counts into each other") {
    def counts(e: Census.Execution) = (e.jobs, e.stages, e.tasks, e.nodes)
    val first = Census.measure(spark)(shuffled())
    val light = only(Census.measure(spark)(noop(spark.range(0, 100).toDF("id"))))
    val again = Census.measure(spark)(shuffled())
    assert(light.jobs == 1 && light.stages == 1, light)
    assert(light.shuffleWriteBytes == 0 && light.nodes("ShuffleExchange") == 0, light)
    assert(first.map(counts) == again.map(counts), s"$first\n$again")
  }

  test("measure leaves the session's listener count as it was, also when the body throws") {
    // the session's ExecutionListenerBus joins the context's bus on the
    // first QueryExecutionListener registration and stays, as in Spark
    Census.measure(spark)(())
    val before = ListenerBridge.listenerCount(spark)
    Census.measure(spark)(shuffled())
    assert(ListenerBridge.listenerCount(spark) == before)
    intercept[IllegalStateException](Census.measure(spark)(throw new IllegalStateException("body")))
    assert(ListenerBridge.listenerCount(spark) == before)
  }

  test("a repartition by column is one REPARTITION_BY_COL hash exchange, without attribute ids") {
    val e = only(Census.measure(spark) {
      noop(spark.range(0, 1000).withColumn("k", col("id") % 7).repartition(col("k")))
    })
    assert(e.exchanges == Seq("REPARTITION_BY_COL hash(k)"), e)
  }

  test("a groupBy aggregate exchanges on its grouping key to meet its distribution") {
    val e = only(Census.measure(spark) {
      noop(spark.range(0, 1000).withColumn("g", col("id") % 5).groupBy("g").count())
    })
    assert(e.exchanges == Seq("ENSURE_REQUIREMENTS hash(g)"), e)
  }

  test("a parquet scan names its table directory, a format(zarr) scan its V2 table") {
    val dir = Files.createTempDirectory("census-scans").toString
    spark.range(0, 100).toDF("id").write.parquet(s"$dir/ids.parquet")
    // read outside the measure: the schema listing is a job of no execution
    val ids = spark.read.parquet(s"$dir/ids.parquet")
    val p = only(Census.measure(spark)(noop(ids)))
    assert(p.scans == Seq("ids.parquet") && p.nodes("FileScan") == 1, p)

    val root = s"$dir/store.zarr"
    ZarrIO.writeMetadata(root, Volume("cs", 0, Array(1L, 1L, 8L, 8L, 8L), Array(1, 1, 8, 8, 8)),
      nLevels = 1)
    val z = only(Census.measure(spark) {
      noop(spark.read.format("zarr").option("path", root).option("stack", "cs").load())
    })
    assert(z.scans == Seq(s"zarr:$root") && z.nodes("BatchScan") == 1, z)
  }

  test("the JSON line carries the exchanges and scans lists") {
    val dir = Files.createTempDirectory("census-json").toString
    spark.range(0, 100).toDF("id").write.parquet(s"$dir/ids.parquet")
    val ids = spark.read.parquet(s"$dir/ids.parquet")
    val e = only(Census.measure(spark)(noop(ids.repartition(col("id")))))
    val json = new ObjectMapper().readTree(e.toJson("query" -> "q"))
    assert(json.get("exchanges").isArray && json.get("scans").isArray, json)
    assert(json.get("exchanges").get(0).asText == "REPARTITION_BY_COL hash(id)", json)
    assert(json.get("scans").get(0).asText == "ids.parquet", json)
    assert(json.get("nodes").get("ShuffleExchange").asInt == 1, json)
  }

  test("passes runs a base then an override arm per rep and leaves the session conf as it was") {
    // one key the session set (Spark.session sets the shuffle partitions),
    // one it never set (a registered key still at its default)
    assert(spark.conf.getAll.get("spark.sql.shuffle.partitions").contains("2"))
    assert(spark.conf.getAll.get("spark.sql.files.maxPartitionBytes").isEmpty)
    for (key <- Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")) {
      val before = spark.conf.getAll
      val seen = Seq.newBuilder[Option[String]]
      val query = () => { seen += spark.conf.getAll.get(key); spark.range(0, 10).toDF("id") }
      val lines = Seq.newBuilder[String]
      Census.passes(spark, Seq("tiny" -> query), reps = 1, overrides = Seq(key -> "7"))(lines += _)
      val json = lines.result().map(new ObjectMapper().readTree(_))
      assert(json.map(_.get("arm").asText) == Seq("base", "override"), json)
      assert(json.forall(j => j.get("funcName").asText == "overwrite" && j.get("pass").asInt == 1), json)
      assert(json.forall(_.get("peakHeapMb").size > 0), json)
      // warm-up and base pass see the session's own value, the override pass 7
      assert(seen.result() == Seq(before.get(key), before.get(key), Some("7")), key)
      val after = spark.conf.getAll
      assert(after == before, (key, after.toSet diff before.toSet, before.toSet diff after.toSet))
    }
  }
}
