package graft.sources.czi

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.sources.SyntheticStack

/** Pins the bytes of every fixture shape [[SyntheticCzi]] emits: the CZI
  * files CziSpec, the CZI z-queries and perfbench read are defined by
  * these digests, so a refactor of the writer must keep them. */
class SyntheticCziSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = Spark.session(master = "local[2]", shufflePartitions = 2,
      appName = "graft-synthetic-czi-test")
    s.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[graft.io.MockSchemeFs].getName)
    s
  }

  private def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"${b & 0xFF}%02x").mkString

  private def v(z: Int, y: Int, x: Int): Int = SyntheticStack.value(z, y, x)

  /** name -> writer of that fixture to a path. */
  private val fixtures: Seq[(String, String => Unit)] = Seq(
    // u16, z % 4 cycles none, zstd0, zstd1, zstd1 hi-lo, then none again
    "write-u16" -> (p => SyntheticCzi.write(p, Array.tabulate(5, 6, 7)(v))),
    "write-gray8" -> (p => SyntheticCzi.write(p, Array.tabulate(4, 6, 7)(v),
      CziFormat.PixelGray8)),
    "channels-extra-dims" -> (p => SyntheticCzi.writeChannels(p,
      Array.tabulate(2, 4, 6, 7)((c, z, y, x) => (v(z, y, x) + 1000 * c) & 0xFFFF),
      extraDims = (c, z) => Seq(("S", 0, 1), ("V", (c + z) % 2, 1)))),
    "tc-two-timepoints" -> (p => SyntheticCzi.writeTC(p,
      Array.tabulate(2, 2, 4, 5, 6)((t, c, z, y, x) =>
        (v(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF))),
    "tc-float32" -> (p => SyntheticCzi.writeTC(p,
      Array.tabulate(1, 1, 4, 5, 6)((_, _, z, y, x) => v(z, y, x)),
      CziFormat.PixelGray32Float)),
    "tiles-mosaic-pyramid" -> (p => SyntheticCzi.writeTiles(p,
      (for (z <- 0 until 2; my <- 0 until 2; mx <- 0 until 2) yield SyntheticCzi.Tile(
        dims = Seq(("X", mx * 5, 5), ("Y", my * 4, 4), ("Z", z, 1), ("C", 0, 1),
          ("M", my * 2 + mx, 1)),
        pixels = Array.tabulate(20)(i => v(z, my * 4 + i / 5, mx * 5 + i % 5)),
        compression = CziFormat.CompressionZstd0)) :+
        SyntheticCzi.Tile(
          dims = Seq(("X", 0, 10), ("Y", 0, 8), ("Z", 0, 1), ("C", 0, 1)),
          pixels = Array.fill(5 * 4)(0x7777),
          stored = Map("X" -> 5, "Y" -> 4)))),
    // perfbench's fixture: one zstd0 plane per z, positional Tile form
    "tiles-perfbench" -> (p => SyntheticCzi.writeTiles(p,
      Iterator.tabulate(3)(z => SyntheticCzi.Tile(
        Seq(("X", 0, 7), ("Y", 0, 6), ("Z", z, 1), ("C", 0, 1)),
        Array.tabulate(42)(i => v(z, i / 7, i % 7)), CziFormat.CompressionZstd0))))
  )

  private val pinned = Map(
    "write-u16" ->
      "d50502d82e5989bd4bb3a3b11cb6ef1cc3a1f6ad2c095d2df929948dd5fd5f14",
    "write-gray8" ->
      "31e45b1c0fbdd10d4afab52c79b7eeebdff5168d8ac65f21a3a2198db1c3b2ef",
    "channels-extra-dims" ->
      "897c69bd08282a12d42802c8e9a549bc3b36a0ffab079d9715d643aaf983d853",
    "tc-two-timepoints" ->
      "05c4848efbc1ec46927389f7824bc15cc19d99c4118d0be0f86284a6a91ad7d2",
    "tc-float32" ->
      "d4f2733dce55041280595f4e86e3029124dbbc7354ed6f2a0507262d69c7ae9e",
    "tiles-mosaic-pyramid" ->
      "5ea86e5b45bf345eac7b173d0d4d86f89de84f6e10b49f5cc6c1c7b342d437dd",
    "tiles-perfbench" ->
      "9e754111fb2883ffac4070e9ce4df4c3a457ca19e9319dc07413fec4ff666dbf")

  test("fixture writers emit pinned bytes, the same locally and through the Hadoop FS API") {
    val dir = Files.createTempDirectory("czi-pin")
    def local(name: String): Path = dir.resolve(s"$name.czi")
    val got = fixtures.map { case (name, write) =>
      write(local(name).toString)
      name -> sha256(local(name))
    }.toMap
    assert(got == pinned, got.toSeq.sorted.map { case (n, d) => s"\"$n\" -> \"$d\"" }.mkString("\n", ",\n", ""))

    // a scheme-qualified path is built in memory and shipped in one
    // create; its bytes must equal the streamed local file's
    spark.sparkContext
    fixtures.foreach { case (name, write) =>
      val viaFs = dir.resolve(s"$name.mock.czi")
      write("mock://" + viaFs)
      assert(java.util.Arrays.equals(Files.readAllBytes(viaFs), Files.readAllBytes(local(name))), name)
    }
  }
}
