package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper

class BenchSpec extends AnyFunSuite {

  private val chunk = new VoxelModel(5, 16, 24, 40).boxBytes(0, 16, 0, 24, 0, 40)

  test("the independent decoder reads the writer's frames, raw and compressed") {
    assert(BloscFrame.decode(graft.core.Blosc.compress(chunk, 2, 3)).sameElements(chunk))
    val noise = Array.tabulate(4096)(i => VoxelModel.mix(i).toByte)
    val raw = graft.core.Blosc.compress(noise, 2, 3)
    assert((raw(2) & 0x02) != 0, "incompressible input should be stored raw")
    assert(BloscFrame.decode(raw).sameElements(noise))
  }

  test("the independent decoder rejects a frame with a flipped byte") {
    val frame = graft.core.Blosc.compress(chunk, 2, 3)
    def flipped(i: Int) = { val b = frame.clone(); b(i) = (~b(i)).toByte; b }
    def rejected(bad: Array[Byte]) =
      try !BloscFrame.decode(bad).sameElements(chunk) catch { case _: BloscFrame.Corrupt => true }
    // the header, the block offset and the stream's size are checked
    // structurally (a changed typesize changes the voxels instead)
    (0 until 24).filter(_ != 3).foreach(i => assertThrows[BloscFrame.Corrupt](BloscFrame.decode(flipped(i))))
    assert(rejected(flipped(3)))
    // the byte --plant-corrupt flips
    assert(rejected(flipped(frame.length / 2)))
    // zstd frames carry no checksum and a few of their bits are unused, so a
    // flip there decodes to the same voxels; every other flip is rejected
    val same = (24 until frame.length).filterNot(i => rejected(flipped(i)))
    assert(same.size * 200 < frame.length, s"flips at ${same.mkString(",")} decoded to the original chunk")
  }

  test("the printed metric names are the names in BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Paths.get(sys.props("perfbench.root"), "BENCHMARK.json").toFile)
    def listed(key: String) = (0 until spec.get(key).size).map { i =>
      val m = spec.get(key).get(i); m.get("name").asText -> m.get("unit").asText
    }
    for (traced <- Seq(false, true)) {
      val printed = new ObjectMapper().readTree(
        Metrics.resultJson(1, 0, Metrics.select(traced, Map.empty.withDefaultValue(1.0))))
      val names = printed.get("metrics").fieldNames()
      val got = Iterator.continually(names).takeWhile(_.hasNext).map(_.next()).map { n =>
        n -> printed.get("metrics").get(n).get("unit").asText
      }.toSet
      assert(got == listed(if (traced) "per_layer" else "end_to_end").toSet)
    }
  }

  test("a different seed changes the fixture bytes but not the metric names") {
    val dir = Files.createTempDirectory("perfbench-spec")
    try {
      def bytes(seed: Long, name: String) = {
        val p = dir.resolve(name)
        Fixture.writeCzi(p, Fixture.large(seed, 8, 40, 56).head.model, threads = 2)
        Files.readAllBytes(p)
      }
      val (a, a2, b) = (bytes(1, "a.czi"), bytes(1, "a2.czi"), bytes(2, "b.czi"))
      assert(a.sameElements(a2), "the same seed must give the same fixture")
      assert(!a.sameElements(b), "another seed must give another fixture")
      def names(seed: Long) = Metrics.select(traced = false, Map("setup_s" -> seed.toDouble)).map(_._1.name)
      assert(names(1) == names(2))
    } finally Fs.deleteTree(dir)
  }
}
