package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.sources.czi.{CziFormat, SyntheticCzi}

/** Seeded u16 voxel model of one stack: a smooth background, a few bits of
  * per-voxel noise and sparse bright blobs. The mix compresses like real
  * light-sheet data (about 2x under Blosc/zstd) rather than like a ramp.
  * Every voxel is a pure function of (seed, z, y, x), so output checks
  * regenerate any region instead of keeping the stack in memory. */
final class VoxelModel(val seed: Long, val nz: Int, val ny: Int, val nx: Int) {
  import VoxelModel._

  private val rng = new java.util.SplittableRandom(seed)
  // the seed moves the phase only: a seeded frequency made the compression
  // ratio, and so the work per pass, differ from seed to seed
  private def smooth(n: Int, amp: Int): Array[Int] = {
    val phase = rng.nextDouble() * 2 * math.Pi
    Array.tabulate(n)(i => (amp * (1 + math.sin(2 * math.Pi * 1.25 * i / n + phase)) / 2).toInt)
  }
  private val bz = smooth(nz, 600)
  private val by = smooth(ny, 900)
  private val bx = smooth(nx, 900)
  private val noiseKey = mix(seed ^ 0x2545F4914F6CDD1DL)

  // (cz, cy, cx, radius, amplitude): about one blob per 2 M voxels
  private val blobs: Array[Array[Int]] = {
    val n = math.max(2L, nz.toLong * ny * nx / (1L << 21)).toInt
    Array.fill(n)(Array(rng.nextInt(nz), rng.nextInt(ny), rng.nextInt(nx),
      3 + rng.nextInt(10), 4000 + rng.nextInt(16000)))
  }

  def rawBytes: Long = 2L * nz * ny * nx

  /** Fills `out` (row-major z, y, x) with the voxels of the half-open box
    * [z0, z1) x [y0, y1) x [x0, x1). */
  def fill(z0: Int, z1: Int, y0: Int, y1: Int, x0: Int, x1: Int, out: Array[Int]): Unit = {
    val (sy, sx) = (y1 - y0, x1 - x0)
    var z = z0
    while (z < z1) {
      var y = y0
      while (y < y1) {
        val row = ((z - z0) * sy + (y - y0)) * sx - x0
        val bg = Base + bz(z) + by(y)
        val idx0 = (z.toLong * ny + y) * nx
        var x = x0
        while (x < x1) {
          out(row + x) = bg + bx(x) + (mix((idx0 + x) ^ noiseKey) >>> (64 - NoiseBits)).toInt
          x += 1
        }
        y += 1
      }
      z += 1
    }
    blobs.foreach { case Array(cz, cy, cx, r, amp) =>
      val (lz, hz) = (math.max(z0, cz - r), math.min(z1, cz + r + 1))
      val (ly, hy) = (math.max(y0, cy - r), math.min(y1, cy + r + 1))
      val (lx, hx) = (math.max(x0, cx - r), math.min(x1, cx + r + 1))
      var z = lz
      while (z < hz) {
        var y = ly
        while (y < hy) {
          var x = lx
          while (x < hx) {
            val d2 = (z - cz) * (z - cz) + (y - cy) * (y - cy) + (x - cx) * (x - cx)
            if (d2 < r * r) {
              val i = ((z - z0) * sy + (y - y0)) * sx + (x - x0)
              out(i) = math.min(0xFFFF, out(i) + amp * (r * r - d2) / (r * r))
            }
            x += 1
          }
          y += 1
        }
        z += 1
      }
    }
  }

  /** Little-endian u16 bytes of a box, the layout of a Zarr `<u2` chunk. */
  def boxBytes(z0: Int, z1: Int, y0: Int, y1: Int, x0: Int, x1: Int): Array[Byte] = {
    val px = new Array[Int]((z1 - z0) * (y1 - y0) * (x1 - x0))
    fill(z0, z1, y0, y1, x0, x1, px)
    val out = new Array[Byte](px.length * 2)
    var i = 0
    while (i < px.length) {
      out(2 * i) = px(i).toByte
      out(2 * i + 1) = (px(i) >>> 8).toByte
      i += 1
    }
    out
  }
}

object VoxelModel {
  val Base = 700
  val NoiseBits = 5

  @inline def mix(v: Long): Long = {
    var z = v * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** One stack of a fixture: its file name (without `.czi`) and voxel model. */
final case class StackSpec(name: String, model: VoxelModel)

/** A generated job input: `<dir>/in/SPIM/<stack>.czi` plus `acquisition.json`,
  * the layout `ZeissJob.run` reads. */
final case class Fixture(dir: Path, stacks: Seq[StackSpec], genSeconds: Double,
                         bytes: Long, cached: Boolean) {
  def input: Path = dir.resolve("in")
  def czi(s: StackSpec): Path = input.resolve("SPIM").resolve(s.name + ".czi")
  def rawBytes: Long = stacks.map(_.model.rawBytes).sum
}

object Fixture {

  /** The one stack of the fixture for `seed`. Its shape does not depend on
    * the seed, so every seed asks for the same amount of work; the voxels do. */
  def large(seed: Long, nz: Int, ny: Int, nx: Int): Seq[StackSpec] =
    Seq(StackSpec("large", new VoxelModel(seed, nz, ny, nx)))

  /** Generates (or reuses) the fixture for `stacks` under `cacheRoot`,
    * keyed by the seed and every stack's shape. At most `keep` fixtures stay
    * cached; the least recently used go first. */
  def obtain(cacheRoot: Path, seed: Long, stacks: Seq[StackSpec], threads: Int, keep: Int = 2): Fixture = {
    val shapeKey = Integer.toHexString(stacks.map(s =>
      (s.name, s.model.nz, s.model.ny, s.model.nx)).hashCode)
    val dir = cacheRoot.resolve(s"s$seed-$shapeKey")
    val marker = dir.resolve("complete")
    if (Files.exists(marker)) {
      val Array(secs, bytes) = new String(Files.readAllBytes(marker), UTF_8).trim.split(" ")
      Files.setLastModifiedTime(marker, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      return Fixture(dir, stacks, secs.toDouble, bytes.toLong, cached = true)
    }
    Files.createDirectories(cacheRoot)
    evict(cacheRoot, keep - 1)
    Files.deleteIfExists(marker)
    Fs.deleteTree(dir)
    val t0 = System.nanoTime()
    val spim = Files.createDirectories(dir.resolve("in").resolve("SPIM"))
    stacks.foreach(s => writeCzi(spim.resolve(s.name + ".czi"), s.model, threads))
    Files.write(dir.resolve("in").resolve("acquisition.json"),
      """{"tiles":[{"coordinate_transformations":[
        |{"type":"scale","scale":["0.748","0.748","1.0"]},
        |{"type":"translation","translation":[0,0,0]}]}]}""".stripMargin.getBytes(UTF_8))
    val secs = (System.nanoTime() - t0) / 1e9
    val bytes = Fs.treeBytes(dir)
    Files.write(marker, s"$secs $bytes".getBytes(UTF_8))
    Fixture(dir, stacks, secs, bytes, cached = false)
  }

  private def evict(cacheRoot: Path, keep: Int): Unit = {
    val done = Fs.list(cacheRoot).filter(d => Files.exists(d.resolve("complete")))
      .sortBy(d => -Files.getLastModifiedTime(d.resolve("complete")).toMillis)
    done.drop(math.max(0, keep)).foreach(Fs.deleteTree)
    // a generation cut short leaves a directory without its marker
    Fs.list(cacheRoot).filterNot(d => Files.exists(d.resolve("complete"))).foreach(Fs.deleteTree)
  }

  /** One zstd-compressed subblock per z-plane, written through
    * `SyntheticCzi.writeTiles`. Planes are generated a batch ahead on
    * `threads` threads; the writer compresses them in order. */
  def writeCzi(path: Path, m: VoxelModel, threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val batch = math.max(1, threads) * 2
      val tiles = (0 until m.nz).grouped(batch).flatMap { zs =>
        val planes = zs.map(z => Future {
          val px = new Array[Int](m.ny * m.nx)
          m.fill(z, z + 1, 0, m.ny, 0, m.nx, px)
          SyntheticCzi.Tile(Seq(("X", 0, m.nx), ("Y", 0, m.ny), ("Z", z, 1), ("C", 0, 1)),
            px, CziFormat.CompressionZstd0)
        })
        planes.map(Await.result(_, Duration.Inf))
      }
      SyntheticCzi.writeTiles(path.toString, tiles)
    } finally pool.shutdown()
  }
}

/** Small local-filesystem helpers. */
object Fs {
  import scala.jdk.CollectionConverters._

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator.asScala.toList finally s.close() }

  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else { val s = Files.walk(dir); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }

  def treeBytes(dir: Path): Long = walk(dir).map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
