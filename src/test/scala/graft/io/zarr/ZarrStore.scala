package graft.io.zarr

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.ZarrChunk

/** Test shorthand for the one chunk sink and source, `format("zarr")`. */
object ZarrStore {

  /** Append chunks to a store whose metadata is already written. */
  def write(ds: Dataset[ZarrChunk], root: String): Unit =
    ds.toDF().write.format("zarr").option("path", root).mode("append").save()

  /** Every chunk of one stack level, collected. The scan enumerates the
    * grid from `.zarray` and zero-fills a chunk whose file is missing, so
    * a voxel count alone would hold with nothing written; this also
    * requires every returned chunk to have its file on disk. */
  def read(spark: SparkSession, root: String, stack: String, level: Int): Array[ZarrChunk] = {
    import spark.implicits._
    val cks = spark.read.format("zarr").option("path", root).option("stack", stack)
      .option("level", level.toString).load().as[ZarrChunk].collect()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = cks.map(ck => new Path(s"$root/$stack/$level/${ck.t}/${ck.c}/${ck.z}/${ck.y}/${ck.x}"))
      .filterNot(fs.exists)
    assert(missing.isEmpty, s"no chunk file (read back as zeros): ${missing.mkString(", ")}")
    cks
  }
}
