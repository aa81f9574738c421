package graft

import graft.operators.QueryEngine.boundedCache
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

/** The engine's one bounded-cache factory ([[graft.operators.QueryEngine]]
  * side broadcasts, range directories, filter gates, driver segments). */
class BoundedCacheSpec extends AnyFunSuite {

  test("bounded cache: a cold load never blocks a resident hit") {
    val cache = boundedCache[String, String](8L)((_, _) => 1)
    cache.put("hot", "h")
    val loading = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val cold = pool.submit(new Callable[String] {
        def call(): String = cache.get("cold", () => {
          loading.countDown(); Thread.sleep(2000); "c"
        })
      })
      assert(loading.await(10, TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      assert(cache.get("hot", () => fail("resident key reloaded")) == "h")
      val ms = (System.nanoTime() - t0) / 1e6
      assert(!cold.isDone, "the cold load ended before the hit was timed")
      assert(ms < 100, s"resident hit waited $ms ms behind a cold load")
      assert(cold.get() == "c" && cache.getIfPresent("cold") == "c")
    } finally pool.shutdownNow()
  }

  test("bounded cache: one LRU order over the whole weight budget") {
    // a budget this large gets 4 segments from Guava's default
    // concurrency level, each holding a quarter of it
    val cache = boundedCache[String, String](1000L)((_, v) => v.length)
    cache.put("big", "x" * 700) // over a quarter of the budget
    cache.put("a", "x" * 200)
    assert(cache.getIfPresent("big") != null) // touch: "a" is now LRU
    cache.put("b", "x" * 200) // 1100 > 1000 evicts exactly the LRU entry
    assert(cache.getIfPresent("a") == null)
    assert(cache.getIfPresent("big") != null && cache.getIfPresent("b") != null)
    assert(cache.stats().evictionCount() == 1L)
  }
}
