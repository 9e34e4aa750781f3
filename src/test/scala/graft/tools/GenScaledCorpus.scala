package graft.tools

/** Dev: generate (or reuse) the k-disjoint-copy scaled corpus WITHOUT
  * running any rehearsal queries — lets the main-classpath dev tool
  * (Census) point at a 10x/100x corpus.
  *
  * usage: Test/runMain graft.tools.GenScaledCorpus <sfDir> <outDir> <k>
  */
object GenScaledCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Spark.session(appName = "graft-gen-scaled")
    Sf1Rehearsal.generate(spark, sfDir, outDir, k)
    spark.stop()
  }
}
