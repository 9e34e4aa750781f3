package graft.core

import org.apache.hadoop.conf.Configuration

/** The effective Hadoop configuration, resolved the way Spark's own file
  * sources resolve it.
  *
  * Every `new Configuration()` loads only the classpath defaults and
  * silently DROPS the session's `spark.hadoop.*` overlays — which is
  * exactly where object-store credentials (`fs.s3a.access.key`),
  * endpoint overrides, and custom filesystem registrations
  * (`fs.<scheme>.impl`) live. On a laptop against `file://` the two are
  * indistinguishable; against the 100 TB object store the fresh-conf
  * path cannot authenticate at all. Driver-side code takes [[get]];
  * executor closures can't serialize a Configuration, so they capture
  * [[snapshot]] at plan time and [[restore]] it inside the task.
  */
object HadoopConf {

  /** The active session's hadoopConfiguration (with `spark.hadoop.*`
    * overlays applied), else the default session's (a thread that never
    * saw the session, or cleared it), else classpath defaults when no
    * session exists. */
  def get: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Serializable snapshot of the effective conf (driver side). */
  def snapshot(): Array[(String, String)] = snapshot(get)

  def snapshot(c: Configuration): Array[(String, String)] = {
    val it = c.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result()
  }

  /** Rebuild a conf from a [[snapshot]] (executor side). `loadDefaults =
    * false`: the snapshot already contains the resolved defaults, and
    * re-loading them here would let the executor's classpath override
    * driver-side decisions. */
  def restore(entries: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
