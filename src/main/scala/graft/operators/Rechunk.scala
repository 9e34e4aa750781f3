package graft.operators

import org.apache.spark.sql.Dataset

import graft.core.{Volume, ZarrChunk}

/** Distributed zarr re-chunking — change a store's chunk shape without
  * ever materializing the array (the "migrate 100 TB to a chunking that
  * matches the new access pattern" operator; the reference's chunk-size
  * optimizer K3 picks shapes, this op applies one to existing data).
  *
  * Shape: [[Regrid.cut]] splits each input chunk into the pieces that
  * overlap target chunks (at most a few per source chunk when shapes are
  * within ~2x of each other), then [[Regrid.assemble]]'s ONE exchange
  * keyed by target coordinates assembles each output chunk from its
  * pieces — every voxel moves exactly once, memory is bounded by one
  * output chunk per group, and no slab or plane is ever resident.
  * Misaligned seams are the normal case and cost only piece
  * multiplicity.
  *
  * Frame axes (t, c) keep chunk extent 1 (the engine-wide `Volume`
  * convention), so re-chunking is over z/y/x.
  */
object Rechunk {

  /** `ds`'s chunks (laid out per `vol`) re-cut to `newZyx`. The returned
    * dataset is laid out per `newVolume(vol, newZyx)`. */
  def apply(ds: Dataset[ZarrChunk], vol: Volume, newZyx: Array[Int]): Dataset[ZarrChunk] = {
    import ds.sparkSession.implicits._
    val oldCk = vol.chunk
    val isz = vol.dtype.itemSize
    val pieces = ds.flatMap { ck =>
      val at = Array(ck.z.toLong * oldCk(2), ck.y.toLong * oldCk(3), ck.x.toLong * oldCk(4))
      Regrid.cut(0, ck.t, ck.c, ck.data, at, ck.shape.drop(2), newZyx, isz)
    }
    Regrid.assemble(pieces, Seq(newVolume(vol, newZyx)))
  }

  /** The volume descriptor of the re-chunked layout. */
  def newVolume(vol: Volume, newZyx: Array[Int]): Volume =
    vol.copy(chunk = Array(1, 1, newZyx(0), newZyx(1), newZyx(2)))
}
