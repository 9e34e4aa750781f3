package graft.tools

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, ReusedSubqueryExec,
  SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Spark, SparkEntry}

/** Per-SQL-execution counters from one `SparkListener`, one
  * `QueryExecutionListener` and the final (adaptive) plan of each execution.
  * `measure(spark)(body)` returns one [[Census.Execution]] per SQL execution
  * `body` ran, in the order their first job started; an eager
  * `localCheckpoint` is its own execution, so each checkpointed round of an
  * iterative query is reported on its own. Jobs outside any SQL execution
  * (plain RDD actions, parquet listing) pool in one record with id -1.
  * Besides counting node kinds, each record names every shuffle exchange
  * (origin, partitioning and keys) and every scan (the relation it reads),
  * so a plan claim such as "one doc_id exchange over the only corpus scan"
  * is a test over two lists, not a reading of a plan dump. `main` runs gate
  * queries through a `noop` write (never `count()`, which prunes columns):
  * one warm-up pass, then `reps` measured passes, one JSON line per
  * execution. Each `key=value` argument is a runtime conf override: every
  * rep then runs a base pass and an override pass in the same JVM
  * ([[passes]]), so host drift hits both arms alike.
  *
  * usage: runMain graft.tools.Census <sfDir> <q1,q2,...|ALL> [reps] [key=value ...]
  */
object Census {

  /** The node kinds counted over an executed plan, in output order. */
  private val Kinds: Seq[(String, Class[_])] = Seq("ShuffleExchange" -> classOf[ShuffleExchangeLike],
    "ReusedExchange" -> classOf[ReusedExchangeExec], "BroadcastExchange" -> classOf[BroadcastExchangeLike],
    "BroadcastHashJoin" -> classOf[BroadcastHashJoinExec],
    "BroadcastNestedLoopJoin" -> classOf[BroadcastNestedLoopJoinExec],
    "FileScan" -> classOf[FileSourceScanLike], "BatchScan" -> classOf[BatchScanExec],
    "WholeStageCodegen" -> classOf[WholeStageCodegenExec])

  /** One SQL execution. `wallMs` is the execution's own duration (0 when
    * it failed); `peakExecutionMemoryBytes` is the largest single task's
    * peak; `nodes` counts each node kind over [[nodes]] of `plan`;
    * `exchanges` and `scans` describe its shuffle exchanges and scans in
    * the same walk ([[exchange]], [[scan]]). */
  final case class Execution(
      id: Long, funcName: String, wallMs: Double, jobs: Int, stages: Int, tasks: Int,
      executorCpuMs: Double, gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, peakExecutionMemoryBytes: Long,
      nodes: Map[String, Int], exchanges: Seq[String], scans: Seq[String],
      plan: Option[SparkPlan]) {

    def toJson(extra: (String, Any)*): String = Json.writeValueAsString(obj(extra ++ Seq(
      "execution" -> id, "funcName" -> funcName, "wallMs" -> ms(wallMs), "jobs" -> jobs,
      "stages" -> stages, "tasks" -> tasks, "executorCpuMs" -> ms(executorCpuMs), "gcMs" -> gcMs,
      "shuffleReadBytes" -> shuffleReadBytes, "shuffleWriteBytes" -> shuffleWriteBytes,
      "spillBytes" -> spillBytes, "peakExecutionMemoryBytes" -> peakExecutionMemoryBytes,
      "nodes" -> obj(Kinds.map { case (k, _) => k -> nodes(k) }),
      "exchanges" -> java.util.List.of(exchanges: _*), "scans" -> java.util.List.of(scans: _*))))
  }

  private val Json = new ObjectMapper()

  /** A JSON object with its fields in the given order. */
  private def obj(fields: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def ms(x: Double): Double = math.round(x * 10) / 10.0 // to 0.1 ms

  /** Every node of an executed plan: AQE's current (after execution, final)
    * plan, the plan inside each query stage, and every subquery. A reused
    * exchange or subquery is a leaf; what it reuses is walked where it is
    * built. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
      case p => p.children ++ p.subqueries
    }
    plan +: inner.flatMap(nodes)
  }

  /** A shuffle exchange as `"<shuffleOrigin> <kind>(<keys>)"`, keys
    * without attribute ids, e.g. `REPARTITION_BY_COL hash(doc_id)` or
    * `ENSURE_REQUIREMENTS range(score)`. */
  def exchange(e: ShuffleExchangeLike): String = {
    val (kind, keys) = e.outputPartitioning match {
      case h: HashPartitioning => ("hash", h.expressions)
      case r: RangePartitioning => ("range", r.ordering.map(_.child))
      case _: RoundRobinPartitioning => ("roundrobin", Nil)
      case SinglePartition => ("single", Nil)
      case p => (p.getClass.getSimpleName, Nil)
    }
    s"${e.shuffleOrigin} $kind(${keys.map(_.toString.replaceAll("#\\d+L?", "")).mkString(", ")})"
  }

  /** The relation a scan reads: the root directory name(s) of a file
    * scan (`documents.parquet`), the table name of a V2 scan
    * (`zarr:<root>`); `None` for any other node. */
  def scan(p: SparkPlan): Option[String] = p match {
    case f: FileSourceScanLike => Some(f.relation.location.rootPaths.map(_.getName).distinct.mkString(","))
    case b: BatchScanExec => Some(b.table.name())
    case _ => None
  }

  /** Runs `body` and returns one record per SQL execution it ran. The
    * listener bus is drained before the listeners join it and after
    * `body`, so no event of earlier work is counted and every event of
    * `body` is; both listeners are removed on exit. */
  def measure(spark: SparkSession)(body: => Any): Seq[Execution] = {
    ListenerBridge.drain(spark)
    val rec = new Recorder
    // the QEL first: the session's ExecutionListenerBus joins the shared
    // listener queue on the first registration, ahead of `rec`
    spark.listenerManager.register(rec)
    spark.sparkContext.addSparkListener(rec)
    try {
      body
      ListenerBridge.drain(spark)
      rec.executions
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  private final class Acc {
    var funcName = ""
    var wallMs = 0.0
    var plan: Option[SparkPlan] = None
    var jobs, stages, tasks = 0
    var cpuNs, gcMs, shufR, shufW, spill, peakMem = 0L
  }

  /** Events arrive on the listener bus thread, results are read on the
    * caller's, so every member is synchronized. The shared queue hands
    * each event to its listeners in registration order: the session's
    * ExecutionListenerBus reports an execution's end (`onSuccess` or
    * `onFailure`) just before this listener sees the same
    * `SparkListenerSQLExecutionEnd`, which pairs the report with its
    * execution id. */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val accs = mutable.LinkedHashMap.empty[Long, Acc]
    private val stageExec = mutable.Map.empty[Int, Long]
    private var reported: Option[(String, QueryExecution, Long)] = None

    private def acc(id: Long) = accs.getOrElseUpdate(id, new Acc)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { reported = Some((funcName, qe, durationNs)) }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { reported = Some((funcName, qe, 0L)) }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        val a = acc(end.executionId)
        reported.foreach { case (f, qe, ns) =>
          a.funcName = f; a.plan = Some(qe.executedPlan); a.wallMs = ns / 1e6
        }
        reported = None
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .fold(-1L)(_.toLong)
      acc(id).jobs += 1
      e.stageIds.foreach(stageExec(_) = id)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      acc(stageExec.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageExec.getOrElse(e.stageId, -1L))
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }

    def executions: Seq[Execution] = synchronized {
      accs.toSeq.map { case (id, a) =>
        val all = a.plan.toSeq.flatMap(nodes)
        Execution(id, a.funcName, a.wallMs, a.jobs, a.stages, a.tasks, a.cpuNs / 1e6, a.gcMs,
          a.shufR, a.shufW, a.spill, a.peakMem,
          Kinds.map { case (k, c) => k -> all.count(c.isInstance) }.toMap,
          all.collect { case e: ShuffleExchangeLike => exchange(e) }, all.flatMap(scan), a.plan)
      }
    }
  }

  /** Heap pools, whose peaks each pass reports: local-mode executors
    * share the driver's JVM, so they bound the tasks' buffers too. */
  private lazy val heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** Runs each query once to warm up (JIT, parquet footers, materialized
    * artifacts), then `reps` measured passes through a `noop` write, and
    * hands `emit` one JSON line per SQL execution. With `overrides`, each
    * rep is a base pass (arm `base`: the session's own values, a key it
    * never set unset) and then an override pass (arm `override`: every
    * override set); the session conf is as before once this returns.
    * Each line carries its arm and the pass's peak of every heap pool in
    * MiB, pool by pool: pools peak at different instants, so their peaks
    * do not sum. */
  def passes(spark: SparkSession, queries: Seq[(String, () => DataFrame)], reps: Int,
             overrides: Seq[(String, String)])(emit: String => Unit): Unit = {
    val before = spark.conf.getAll
    def arm(on: Boolean): Unit = overrides.foreach { case (k, v) =>
      if (on) spark.conf.set(k, v)
      else before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    def pass(query: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      query().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    val arms = if (overrides.isEmpty) Seq("base" -> false) else Seq("base" -> false, "override" -> true)
    try {
      for ((name, query) <- queries) {
        arm(on = false)
        pass(query)
        for (rep <- 1 to reps; (armName, on) <- arms) {
          arm(on)
          heapPools.foreach(_.resetPeakUsage())
          var passMs = 0.0
          val execs = measure(spark) { passMs = pass(query) }
          val peakMb = obj(heapPools.map(p => p.getName -> p.getPeakUsage.getUsed / (1024 * 1024)))
          execs.foreach { e =>
            emit(e.toJson("query" -> name, "arm" -> armName, "pass" -> rep, "passMs" -> ms(passMs),
              "peakHeapMb" -> peakMb))
          }
        }
      }
    } finally arm(on = false)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.tools.Census <sfDir> <q1,q2,...|ALL> [reps] [key=value ...]"
    require(args.length >= 2, usage)
    val sfDir = args(0)
    val queries = SparkEntry.queries
    val names = if (args(1) == "ALL") queries.keys.toSeq.sorted else args(1).split(",").toSeq
    val (reps, settings) = args.drop(2).toSeq match {
      case r +: kvs if !r.contains('=') => (r.toInt, kvs)
      case kvs => (3, kvs)
    }
    val overrides = settings.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"not key=value: '$kv'; $usage")
      kv.take(i) -> kv.drop(i + 1)
    }
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Spark.session(appName = "graft-census")
    passes(spark, names.map(n => n -> (() => queries(n)(spark, sfDir))), reps, overrides)(println)
    spark.stop()
  }
}
