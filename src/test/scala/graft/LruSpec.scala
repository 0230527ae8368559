package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

class LruSpec extends SparkSpec {

  test("total weight stays within the capacity") {
    val lru = new Lru[Int, Array[Byte]](100, _.length.toLong)
    for (i <- 0 until 20) {
      lru.put(i, new Array[Byte](30))
      assert(lru.weight <= 100, s"weight ${lru.weight} after put $i")
    }
    assert(lru.size == 3 && lru.weight == 90)
    assert(lru.keys == Seq(17, 18, 19))
    assert(lru.evictions == 17)
  }

  test("eviction follows access order, eldest first") {
    val lru = new Lru[String, Int](3)
    lru.put("a", 1); lru.put("b", 2); lru.put("c", 3)
    assert(lru.get("a").contains(1)) // a is now the most recent
    lru.put("d", 4)
    assert(lru.keys == Seq("c", "a", "d"))
    assert(lru.get("b").isEmpty)
    lru.getOrLoad("c")(fail("a hit must not load")) // c is now the most recent
    lru.put("e", 5)
    assert(lru.keys == Seq("d", "c", "e"))
  }

  test("the only entry is never evicted, however heavy") {
    val lru = new Lru[Int, Array[Byte]](10, _.length.toLong)
    lru.put(1, new Array[Byte](4))
    lru.put(2, new Array[Byte](50))
    assert(lru.keys == Seq(2) && lru.weight == 50)
    assert(lru.get(2).map(_.length).contains(50))
    lru.put(3, new Array[Byte](60))
    assert(lru.keys == Seq(3) && lru.weight == 60)
  }

  test("put keeps the first value cached for a key") {
    val released = ArrayBuffer.empty[String]
    val lru = new Lru[Int, String](10, release = released += _)
    val first = new String("x")
    val second = new String("x")
    assert(lru.put(1, first) eq first)
    assert(lru.put(1, second) eq first)
    assert(released.size == 1 && (released.head eq second))
    lru.put(1, first) // the cached value itself is not released
    assert(released.size == 1)
  }

  test("removeIf drops matching entries and their weight") {
    val lru = new Lru[(String, Int), Array[Double]](1000, _.length * 8L)
    for (p <- Seq("s1", "s2"); i <- 0 until 3)
      lru.put((p, i), new Array[Double](10))
    assert(lru.weight == 480)
    lru.removeIf((k, _) => k._1 == "s1")
    assert(lru.keys.map(_._1).distinct == Seq("s2"))
    assert(lru.weight == 240 && lru.evictions == 0)
    lru.clear()
    assert(lru.size == 0 && lru.weight == 0)
  }

  test("evicted and removed values are handed to release") {
    val released = ArrayBuffer.empty[Int]
    val lru = new Lru[Int, Int](2, release = released += _)
    (1 to 4).foreach(i => lru.put(i, i * 10))
    assert(released == Seq(10, 20))
    lru.removeIf((k, _) => k == 4)
    assert(released == Seq(10, 20, 40))
    lru.clear()
    assert(released == Seq(10, 20, 40, 30))
  }

  test("hits, misses and evictions are counted") {
    val lru = new Lru[Int, Int](2)
    lru.getOrLoad(1)(1)
    lru.getOrLoad(1)(fail("hit"))
    lru.getOrLoad(2)(2)
    lru.getOrLoad(3)(3)
    assert(lru.get(1).isEmpty)
    assert((lru.hits, lru.misses, lru.evictions) == ((1L, 4L, 1L)))
  }

  test("a capacity read by name applies from the next insert") {
    var cap = 4L
    val lru = new Lru[Int, Int](cap)
    (1 to 4).foreach(i => lru.put(i, i))
    cap = 2
    assert(lru.size == 4)
    lru.put(5, 5)
    assert(lru.keys == Seq(4, 5))
  }

  test("concurrent getOrLoad on one key returns one value to every caller") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val lru = new Lru[String, AnyRef](8, release = released.add(_))
    val loads = new AtomicInteger
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          lru.getOrLoad("k") {
            loads.incrementAndGet(); Thread.sleep(20); new Object
          }
        }
      }))
      start.countDown()
      val got = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(got.forall(_ eq got.head))
      assert(lru.get("k").exists(_ eq got.head))
      // every duplicate load was released, the cached one was not
      assert(released.size == loads.get - 1)
      assert(!released.asScala.exists(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a formerly unbounded verdict memo stays at its bound") {
    import spark.implicits._
    val op = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("o", "p")
    val memo = operators.GraphEdges.probeMemo
    memo.clear()
    val before = memo.evictions
    for (i <- 0 until Lru.Verdicts + 20)
      operators.GraphEdges.coPurchasePairs(op, op, Some(s"snapshot-$i"))
    assert(memo.size == Lru.Verdicts)
    assert(memo.evictions - before == 20)
    assert(memo.keys.last == s"snapshot-${Lru.Verdicts + 19}")
  }
}
