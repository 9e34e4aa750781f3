package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark

/** [[Census.measure]] reports one record per SQL execution, with counters
  * and final-plan node counts that belong to that execution alone, and
  * leaves no listener behind. An overwrite-mode write runs as the
  * `overwrite` command. */
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
}
