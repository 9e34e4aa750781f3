package perfbench

/** Every metric the benchmark prints: `endToEnd` with `--trace 0`,
  * `perLayer` with `--trace 1`. BENCHMARK.json lists the same names. */
object Metrics {
  final case class Metric(name: String, unit: String)

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("pass_s", "s"),
    Metric("mb_s_per_core", "MB/s"),
    Metric("stored_ratio", "ratio"),
    Metric("peak_mem_mb", "MB"))

  /** Listener counters, reported per pass (median over traced passes). */
  val engine: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.cpu_util")

  private def unitOf(name: String): String =
    if (name.endsWith("_mb_s")) "MB/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "zarr.bytes_written") "bytes"
    else if (name == "blosc.ratio") "ratio"
    else if (name == "spark.cpu_util" || name == "scaling_efficiency") "fraction"
    else "count"

  val perLayer: Seq[Metric] = (Seq(
    "czi.index_s", "czi.decode_mb_s", "czi.slab_mb_s",
    "pyramid.kernel_mb_s",
    "blosc.encode_mb_s", "blosc.shuffle_mb_s", "blosc.decode_mb_s", "blosc.ratio",
    "zarr.meta_s", "zarr.files_written", "zarr.bytes_written", "zarr.read_s", "zarr.roi_read_s",
    "job.run_s", "job.driver_s") ++ engine ++ Seq(
    "machine.memcpy_mb_s", "scaling_efficiency", "trace.overhead_s")).map(n => Metric(n, unitOf(n)))

  /** The metrics a run prints, in list order; an unmeasured one is NaN. */
  def select(traced: Boolean, values: collection.Map[String, Double]): Seq[(Metric, Double)] =
    (if (traced) perLayer else endToEnd).map(m => m -> values.getOrElse(m.name, Double.NaN))

  /** The result object: `correct`, `attempted`, `failed` and `metrics`. */
  def resultJson(attempted: Int, failed: Int, metrics: Seq[(Metric, Double)]): String =
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (m, v) =>
        m.name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(m.unit)))
      })))
}
