package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def same(a: Edges, b: Edges) =
    a.src.sameElements(b.src) && a.dst.sameElements(b.dst)

  test("every generator is a function of its seed") {
    assert(same(Gen.powerLaw(7, 1000, 5000), Gen.powerLaw(7, 1000, 5000)))
    assert(!same(Gen.powerLaw(7, 1000, 5000), Gen.powerLaw(8, 1000, 5000)))
    assert(same(Gen.plantedBlocks(3, 50, 150), Gen.plantedBlocks(3, 50, 150)))
    assert(!same(Gen.plantedBlocks(3, 50, 150), Gen.plantedBlocks(4, 50, 150)))
  }

  test("SplitMix64 matches its published first outputs for seed 0") {
    val r = new SplitMix64(0L)
    assert(r.nextLong() == 0xe220a8397b1dcdafL)
    assert(r.nextLong() == 0x6e789e6aa1b965f4L)
  }

  test("k is fitted so the top rank takes the given share") {
    val k = Gen.kForTopShare(20000, 0.001)
    assert(math.abs(math.pow(20000, -1 / k) - 0.001) < 1e-15)
  }

  test("the power-law graph stays in range with web-Google's hub shares") {
    val (n, m) = (20000, 120000)
    val e = Gen.powerLaw(1, n, m)
    assert(e.src.forall(v => v >= 0 && v < n))
    assert(e.dst.forall(v => v >= 0 && v < n))
    def topShare(ids: Array[Long]) =
      ids.groupBy(identity).values.map(_.length).max.toDouble / m
    // the top rank's expected share, within sampling noise
    val in = topShare(e.dst) / Gen.WebGoogleTopIn
    assert(in > 0.7 && in < 1.4, s"top in-degree share is $in× web-Google's")
    assert(topShare(e.dst) > 20.0 / n) // far above the mean in-degree
    assert(topShare(e.src) < 5 * Gen.WebGoogleTopIn)
  }

  test("planted blocks have no edge between the blocks") {
    val e = Gen.plantedBlocks(9, 30, 90)
    assert(e.size == 180)
    assert(e.pairs.forall { case (a, b) => (a < 30) == (b < 30) })
  }

  test("SNAP text round-trips through the header and edge lines") {
    val e = Gen.powerLaw(2, 100, 300)
    val f = java.io.File.createTempFile("perfbench", ".txt")
    try {
      Gen.writeSnap(e, f, "test")
      val lines = scala.io.Source.fromFile(f).getLines().toSeq
      val body = lines.filterNot(_.startsWith("#"))
      assert(lines.head.startsWith("#") && body.size == 300)
      assert(body.map(_.split("\t").map(_.toLong).toSeq) ==
        e.pairs.map { case (a, b) => Seq(a, b) })
    } finally f.delete()
  }
}
