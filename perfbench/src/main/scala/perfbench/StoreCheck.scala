package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper

/** Checks a written OME-Zarr store against the fixture that produced it,
  * decoding with [[BloscFrame]] only:
  *   - every level's `.zarray` has the expected shape, chunks and codec;
  *   - the chunk-file census equals the `.zarray` grid and no `.tmp-*`
  *     file remains anywhere in the store;
  *   - level 0 equals the generator's voxels, chunk by chunk;
  *   - on sampled chunks, level k+1 equals the windowed mean of level k
  *     (floor of the mean over the window's actual population). */
object StoreCheck {
  private val M = new ObjectMapper()

  /** CRC-32 of the generator's level-0 bytes, keyed (stack, z, y, x). */
  type Level0Crcs = Map[(String, Int, Int, Int), Long]

  final case class Result(problems: Seq[String], storeBytes: Long, files: Long, level0: Level0Crcs)

  final case class Level(shape: Array[Int], chunk: Array[Int]) {
    def grid: Array[Int] = Array.tabulate(3)(d => (shape(d) + chunk(d) - 1) / chunk(d))
  }

  def levels(m: VoxelModel, chunk: Array[Int], n: Int): Seq[Level] =
    Iterator.iterate(Array(m.nz, m.ny, m.nx))(s => s.map(v => (v + 1) / 2))
      .take(n).map(Level(_, chunk)).toSeq

  /** Checks `stacks` under `root`; `sampled` level-(k+1) chunks per level
    * are recomputed from level k. Level 0 is compared byte for byte with
    * the generator, or, given `known` from an earlier check, by CRC-32 of
    * the generator's bytes. */
  def check(root: Path, stacks: Seq[StackSpec], chunk: Array[Int], nLevels: Int,
            sampled: Int, seed: Long, threads: Int,
            known: Level0Crcs = Map.empty): Result = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val files = Fs.walk(root)
      val problems = Seq.newBuilder[String]
      files.filter(_.getFileName.toString.startsWith(".tmp-"))
        .foreach(p => problems += s"leftover temporary file ${root.relativize(p)}")
      if (!Files.exists(root.resolve(".zgroup"))) problems += "store root has no .zgroup"
      val work = stacks.flatMap { s =>
        val lv = levels(s.model, chunk, nLevels)
        problems ++= metadata(root.resolve(s.name), lv)
        problems ++= census(root.resolve(s.name), lv, files)
        val l0 = allChunks(lv.head).map(c => () => level0(root.resolve(s.name), s.model, lv.head, c,
          known.get((s.name, c(0), c(1), c(2)))))
        val rng = new java.util.SplittableRandom(seed ^ s.name.hashCode)
        val up = (1 until lv.size).flatMap { k =>
          val all = allChunks(lv(k))
          // always include the last, edge-clamped chunk
          val picks = (Seq(all.last) ++ Seq.fill(sampled)(all(rng.nextInt(all.size)))).distinct
          picks.map(c => () => (mean(root.resolve(s.name), lv, k, c), None))
        }
        l0 ++ up
      }
      val found = Await.result(Future.traverse(work)(f => Future(
        try f() catch { case e: Exception => (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), None) })),
        Duration.Inf)
      problems ++= found.flatMap(_._1)
      Result(problems.result(), files.map(Files.size).sum, files.size,
        found.flatMap(_._2).toMap)
    } finally pool.shutdown()
  }

  private def allChunks(l: Level): IndexedSeq[Array[Int]] = {
    val g = l.grid
    for (z <- 0 until g(0); y <- 0 until g(1); x <- 0 until g(2)) yield Array(z, y, x)
  }

  private def chunkPath(stack: Path, level: Int, c: Array[Int]): Path =
    stack.resolve(s"$level/0/0/${c(0)}/${c(1)}/${c(2)}")

  private def metadata(stack: Path, lv: Seq[Level]): Seq[String] = {
    val out = Seq.newBuilder[String]
    try {
      val attrs = M.readTree(stack.resolve(".zattrs").toFile)
      val ds = attrs.get("multiscales").get(0).get("datasets")
      if (ds.size != lv.size) out += s"${stack.getFileName}: .zattrs lists ${ds.size} datasets, expected ${lv.size}"
    } catch { case e: Exception => out += s"${stack.getFileName}: unreadable .zattrs (${e.getMessage})" }
    lv.zipWithIndex.foreach { case (l, k) =>
      try {
        val a = M.readTree(stack.resolve(s"$k/.zarray").toFile)
        def ints(f: String) = (0 until 5).map(i => a.get(f).get(i).asInt)
        val want = Seq(1, 1) ++ l.shape
        if (ints("shape") != want) out += s"${stack.getFileName}/$k: shape ${ints("shape")} != $want"
        if (ints("chunks") != Seq(1, 1) ++ l.chunk) out += s"${stack.getFileName}/$k: chunks ${ints("chunks")}"
        if (a.get("dtype").asText != "<u2") out += s"${stack.getFileName}/$k: dtype ${a.get("dtype")}"
        val comp = a.get("compressor")
        if (comp.get("id").asText != "blosc" || comp.get("cname").asText != "zstd")
          out += s"${stack.getFileName}/$k: compressor $comp"
      } catch { case e: Exception => out += s"${stack.getFileName}/$k: unreadable .zarray (${e.getMessage})" }
    }
    out.result()
  }

  private def census(stack: Path, lv: Seq[Level], files: Seq[Path]): Seq[String] = {
    val out = Seq.newBuilder[String]
    lv.zipWithIndex.foreach { case (l, k) =>
      val dir = stack.resolve(k.toString)
      val names = files.filter(_.startsWith(dir)).map(p => dir.relativize(p).toString)
        .filterNot(n => n == ".zarray" || n.split('/').last.startsWith(".tmp-"))
      val expected = allChunks(l).map(c => s"0/0/${c(0)}/${c(1)}/${c(2)}").toSet
      val got = names.toSet
      val missing = expected -- got
      val extra = got -- expected
      if (missing.nonEmpty) out += s"${stack.getFileName}/$k: ${missing.size} chunk files missing, e.g. ${missing.head}"
      if (extra.nonEmpty) out += s"${stack.getFileName}/$k: ${extra.size} unexpected files, e.g. ${extra.head}"
    }
    out.result()
  }

  private def read(stack: Path, level: Int, c: Array[Int]): Array[Byte] =
    BloscFrame.decode(Files.readAllBytes(chunkPath(stack, level, c)))

  private def box(l: Level, c: Array[Int]): Array[Int] =
    Array.tabulate(3)(d => c(d) * l.chunk(d)) ++
      Array.tabulate(3)(d => math.min(l.shape(d), (c(d) + 1) * l.chunk(d)))

  private def crc(b: Array[Byte]): Long = { val c = new java.util.zip.CRC32(); c.update(b); c.getValue }

  /** One level-0 chunk against the generator; also returns the CRC key. */
  private def level0(stack: Path, m: VoxelModel, l: Level, c: Array[Int],
                     known: Option[Long]): (Option[String], Option[((String, Int, Int, Int), Long)]) = {
    val b = box(l, c)
    val got = read(stack, 0, c)
    val wantCrc = known.getOrElse(crc(m.boxBytes(b(0), b(3), b(1), b(4), b(2), b(5))))
    val wantLen = 2 * (b(3) - b(0)) * (b(4) - b(1)) * (b(5) - b(2))
    val problem =
      if (got.length == wantLen && crc(got) == wantCrc) None
      else Some(s"${stack.getFileName}/0/${c.mkString("/")}: level 0 differs from the generator" +
        (if (got.length != wantLen) s" (${got.length} bytes, expected $wantLen)" else ""))
    (problem, Some((stack.getFileName.toString, c(0), c(1), c(2)) -> wantCrc))
  }

  /** Level-k chunk `c` against the windowed mean of level k-1. */
  private def mean(stack: Path, lv: Seq[Level], k: Int, c: Array[Int]): Option[String] = {
    val (lo, hi) = (lv(k - 1), lv(k))
    val b = box(hi, c)
    val src = Array.tabulate(3)(d => 2 * b(d)) ++ Array.tabulate(3)(d => math.min(lo.shape(d), 2 * b(d + 3)))
    val (sz, sy, sx) = (src(3) - src(0), src(4) - src(1), src(5) - src(2))
    // assemble the level-(k-1) source box from the chunks it overlaps
    val px = new Array[Int](sz * sy * sx)
    val c0 = Array.tabulate(3)(d => src(d) / lo.chunk(d))
    val c1 = Array.tabulate(3)(d => (src(d + 3) - 1) / lo.chunk(d))
    for (cz <- c0(0) to c1(0); cy <- c0(1) to c1(1); cx <- c0(2) to c1(2)) {
      val cb = box(lo, Array(cz, cy, cx))
      val data = read(stack, k - 1, Array(cz, cy, cx))
      val (ny, nx) = (cb(4) - cb(1), cb(5) - cb(2))
      val (x0, x1) = (math.max(cb(2), src(2)), math.min(cb(5), src(5)))
      for (z <- math.max(cb(0), src(0)) until math.min(cb(3), src(3));
           y <- math.max(cb(1), src(1)) until math.min(cb(4), src(4))) {
        val from = ((z - cb(0)) * ny + (y - cb(1))) * nx - cb(2)
        val to = ((z - src(0)) * sy + (y - src(1))) * sx - src(2)
        var x = x0
        while (x < x1) {
          px(to + x) = (data(2 * (from + x)) & 0xFF) | (data(2 * (from + x) + 1) & 0xFF) << 8
          x += 1
        }
      }
    }
    val got = read(stack, k, c)
    val (oz, oy, ox) = (b(3) - b(0), b(4) - b(1), b(5) - b(2))
    if (got.length != 2 * oz * oy * ox)
      return Some(s"${stack.getFileName}/$k/${c.mkString("/")}: ${got.length} bytes, expected ${2 * oz * oy * ox}")
    var bad = 0
    for (z <- 0 until oz; y <- 0 until oy) {
      var x = 0
      while (x < ox) {
        var sum = 0L
        var n = 0
        var wz = 2 * z
        while (wz < math.min(2 * z + 2, sz)) {
          var wy = 2 * y
          while (wy < math.min(2 * y + 2, sy)) {
            var wx = 2 * x
            while (wx < math.min(2 * x + 2, sx)) { sum += px((wz * sy + wy) * sx + wx); n += 1; wx += 1 }
            wy += 1
          }
          wz += 1
        }
        val i = (z * oy + y) * ox + x
        if (((got(2 * i) & 0xFF) | (got(2 * i + 1) & 0xFF) << 8) != (sum / n).toInt) bad += 1
        x += 1
      }
    }
    if (bad == 0) None
    else Some(s"${stack.getFileName}/$k/${c.mkString("/")}: $bad voxels differ from the windowed mean of level ${k - 1}")
  }
}
