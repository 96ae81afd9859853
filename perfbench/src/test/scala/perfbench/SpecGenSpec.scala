package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpecGenSpec extends AnyFunSuite {
  private def dir(i: Int) = s"/out/$i"

  test("the same seed gives identical specs, upserts and op order") {
    assert(SpecGen.pipelines(7, dir) == SpecGen.pipelines(7, dir))
    assert(SpecGen.upserts(7) == SpecGen.upserts(7))
    val ops = (1 to 20).map(i => s"op$i")
    assert(SpecGen.order(ops, 7, 3) == SpecGen.order(ops, 7, 3))
  }

  test("different seeds give different inputs") {
    assert((1 to 10).map(s => SpecGen.pipelines(s, dir)).distinct.size > 1)
    assert((1 to 10).map(s => SpecGen.upserts(s)).distinct.size > 1)
    val ops = (1 to 20).map(i => s"op$i")
    assert(SpecGen.order(ops, 1, 1) != SpecGen.order(ops, 2, 1))
    assert(SpecGen.order(ops, 1, 1) != SpecGen.order(ops, 1, 2))
  }

  test("every seed loads one pipeline per format with a fixed row count") {
    for (seed <- 1L to 50L) {
      val specs = SpecGen.pipelines(seed, dir)
      assert(specs.flatMap(_.target).map(_.format).sorted == SpecGen.formats.sorted)
      specs.foreach { p =>
        val c = p.source.get
        assert(c.limit == SpecGen.rowsPerPipeline)
        assert(c.filters.size == 2)
        assert(c.sort.nonEmpty)
        assert(c.transformations.size == 2)
      }
    }
  }

  test("upsert batches overlap and stay inside the key space") {
    for (seed <- 1L to 50L) {
      val bs = SpecGen.upserts(seed, keys = 15000)
      assert(bs.map(_.version) == (1 to bs.size))
      bs.foreach(b => assert(b.lo >= 0 && b.hi <= 15000 && b.hi - b.lo == 3750))
    }
  }
}
