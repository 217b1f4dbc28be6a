package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** `pairFrequencies` answers from the values it captured: a cached pair
  * that the same call's misses evict from the 65,536-entry LRU is still
  * returned. */
class PairFrequencySpec extends AnyFunSuite with Matchers {

  test("a cached pair evicted by the same call's misses is still returned") {
    val fixture = Fixture.buildIndex(TestSpark.spark)
    // a fresh handle on the fixture index: empty caches, pinned dictionary
    val index = GraftIndex(fixture.spark, fixture.dir, fixture.settings)
    // non-word pairs short-circuit to 0 on the pinned dictionary (no job)
    def novel(i: Int) = (s"zqx$i", "qzx")
    val x = ("xqzeldest", "qzx")
    index.pairFrequencies(Seq(x)) shouldBe Map(x -> 0L)
    index.pairFrequencies((0 until 65535).map(novel)).size shouldBe 65535
    // x is now the eldest of a full cache; the next novel pair evicts it
    index.pairFrequencies(Seq(x, novel(65535))) shouldBe
      Map(x -> 0L, novel(65535) -> 0L)
  }
}
