package graft.tools

/** A/B a runtime SQLConf against a list of queries in one JVM (dev
  * tool): alternates conf-off / conf-on passes so host drift hits both
  * arms equally.
  *
  * usage: runMain graft.tools.ProbeConf <sfDir> <key> <value> <q1,q2,...> [reps]
  */
object ProbeConf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val key = args(1)
    val value = args(2)
    val names = args(3).split(",").toSeq
    val reps = if (args.length > 4) args(4).toInt else 4
    val spark = graft.Spark.session(appName = "graft-probe-conf")
    val base = spark.conf.getOption(key)
    // peak HEAP usage per pass (VERDICT r19 #4 asks the obj-agg A/B to
    // carry memory telemetry): reset every heap pool's peak before the
    // pass, read each pool's peak after — local-mode executors share this
    // JVM, so the pool peaks bound the aggregate buffers too. Pools peak at
    // different instants, so each is reported on its own, never summed
    val heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
    }
    var lastPeakMb = Map.empty[String, Long]
    def run(name: String): Double = {
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      lastPeakMb = heapPools.map(p => p.getName -> p.getPeakUsage.getUsed / (1024 * 1024)).toMap
      dt
    }
    names.foreach(run) // warmup
    for (name <- names) {
      val off = Array.newBuilder[Double]
      val on = Array.newBuilder[Double]
      val offPk = Array.newBuilder[Map[String, Long]]
      val onPk = Array.newBuilder[Map[String, Long]]
      for (_ <- 1 to reps) {
        base.foreach(v => spark.conf.set(key, v))
        if (base.isEmpty) spark.conf.unset(key)
        off += run(name); offPk += lastPeakMb
        spark.conf.set(key, value)
        on += run(name); onPk += lastPeakMb
      }
      def med(xs: Array[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
      // the largest peak each pool reached over an arm's passes
      def peaks(xs: Array[Map[String, Long]]): String =
        heapPools.map(p => s"${p.getName.replace(' ', '_')}:${xs.map(_(p.getName)).max}").mkString(",")
      // result() once per builder: a second result() call on a Scala 2.13
      // ArrayBuilder whose size hit capacity hands off (nulls) the backing
      // array — the repeated-call form NPE'd at reps = 16 (ADVICE r19)
      val offA = off.result()
      val onA = on.result()
      println(f"[probe-conf] $name off=${offA.map(t => f"$t%.3f").mkString(",")} " +
        f"on=${onA.map(t => f"$t%.3f").mkString(",")} " +
        f"med_off=${med(offA)}%.3f med_on=${med(onA)}%.3f " +
        s"peak_heap_mb_off=${peaks(offPk.result())} peak_heap_mb_on=${peaks(onPk.result())}")
    }
    spark.stop()
  }
}
