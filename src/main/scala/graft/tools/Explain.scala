package graft.tools

/** Plan inspector: prints the formatted physical plan of named
  * SparkEntry queries as planned, before adaptive execution re-plans it —
  * the feedback loop for checking pushdown, broadcast choices, and
  * shuffle counts. Timings, counters and the final plan's node counts of
  * an executed query come from [[Census]].
  *
  * usage: runMain graft.tools.Explain <sfDir> <query>[,query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.Spark.session(appName = "graft-explain")
    names.foreach { name =>
      println(s"\n=== $name ===")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
