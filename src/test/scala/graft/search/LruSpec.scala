package graft.search

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The serving caches' one LRU: weight bound, captured results, miss-only
  * fetches, recency and concurrent use. No Spark. */
class LruSpec extends AnyFunSuite with Matchers {

  private def values(keys: Seq[Int]): Map[Int, Long] =
    keys.map(k => k -> k.toLong).toMap

  test("total weight stays within capacity after every call") {
    val lru = new Lru[Int, Long](100, v => v % 7 + 1)
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      rnd.nextInt(3) match {
        case 0 => lru.getAll(Seq.fill(rnd.nextInt(40))(rnd.nextInt(300)))(values)
        case 1 => lru.put(rnd.nextInt(300), rnd.nextInt(50).toLong)
        case _ => lru.get(rnd.nextInt(300))
      }
      withClue(s"call $i: ")(lru.totalWeight should be <= 100L)
    }
    lru.clear()
    lru.totalWeight shouldBe 0L
  }

  test("a batch heavier than the whole capacity still returns every value") {
    val lru = new Lru[Int, Long](10, _ => 4)
    val keys = 0 until 50
    lru.getAll(keys)(values) shouldBe values(keys)
    lru.totalWeight should be <= 10L
    // a put heavier than the capacity leaves nothing cached
    lru.put(-1, 0L)
    new Lru[Int, Long](3, _ => 4).getAll(Seq(1))(values) shouldBe Map(1 -> 1L)
  }

  test("fetchMisses only ever sees misses; left-out keys are neither cached nor returned") {
    val lru = new Lru[Int, Long](1000, _ => 1)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def fetch(ks: Seq[Int]): Map[Int, Long] = { seen += ks; values(ks.filter(_ % 5 != 0)) }
    lru.getAll(Seq(1, 2, 3, 5, 2))(fetch) shouldBe values(Seq(1, 2, 3))
    lru.getAll(Seq(1, 2, 3, 4, 5))(fetch) shouldBe values(Seq(1, 2, 3, 4))
    lru.getAll(Seq(1, 2, 3, 4))(fetch) shouldBe values(Seq(1, 2, 3, 4))
    seen.toSeq shouldBe Seq(Seq(1, 2, 3, 5), Seq(4, 5))
    lru.get(5) shouldBe None
  }

  test("a hit refreshes recency") {
    val viaGet = new Lru[String, Long](2, _ => 1)
    viaGet.put("a", 1L)
    viaGet.put("b", 2L)
    viaGet.get("a") shouldBe Some(1L)
    viaGet.put("c", 3L)
    viaGet.get("b") shouldBe None
    viaGet.get("a") shouldBe Some(1L)

    val viaGetAll = new Lru[String, Long](2, _ => 1)
    viaGetAll.getAll(Seq("a", "b"))(ks => ks.map(_ -> 0L).toMap)
    viaGetAll.getAll(Seq("a"))(_ => fail("a is cached"))
    viaGetAll.getAll(Seq("c"))(ks => ks.map(_ -> 0L).toMap)
    viaGetAll.get("b") shouldBe None
    viaGetAll.get("a") shouldBe Some(0L)
  }

  test("8 threads over 10^5 distinct keys never miss a value or overrun capacity") {
    val capacity = 5000L
    val lru = new Lru[Int, Long](capacity, v => v % 3 + 1)
    val failure = new AtomicReference[String](null)
    val pool = Executors.newFixedThreadPool(8)
    (0 until 8).foreach { t =>
      pool.execute { () =>
        val rnd = new scala.util.Random(t)
        var i = 0
        while (i < 2000 && failure.get() == null) {
          val keys = Seq.fill(1 + rnd.nextInt(100))(rnd.nextInt(100000))
          val got = lru.getAll(keys)(values)
          if (got != values(keys.distinct)) failure.set(s"thread $t call $i: wrong values")
          val w = lru.totalWeight
          if (w > capacity) failure.set(s"thread $t call $i: weight $w")
          i += 1
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS) shouldBe true
    failure.get() shouldBe null
    lru.totalWeight should be <= capacity
  }
}
