package graft.catalog

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[ByteLruCache]] misses are single-flight per key: concurrent misses
  * on one key share one compute, and a failed compute leaves no entry. */
class ByteLruCacheSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("8 threads missing the same key run compute once and share its value") {
    val c = new ByteLruCache[String, String](() => 1L << 20, _ => 10L)
    val computes = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { _ =>
        pool.submit(() => {
          start.await()
          c.getOrCompute("k") {
            computes.incrementAndGet()
            Thread.sleep(200) // hold the flight open while the others miss
            new String("v")
          }
        })
      }
      start.countDown()
      val got = futs.map(_.get(30, TimeUnit.SECONDS))
      assert(computes.get == 1)
      assert(got.forall(_ eq got.head), "every caller gets the one computed value")
      assert(c.entryCount == 1 && c.currentBytes == 10L)
    } finally pool.shutdownNow()
  }

  test("a compute that throws leaves no entry and the next caller recomputes") {
    val c = new ByteLruCache[String, String](() => 1L << 20, _ => 10L)
    val e = intercept[IllegalStateException](
      c.getOrCompute("k")(throw new IllegalStateException("boom")))
    assert(e.getMessage == "boom")
    assert(c.entryCount == 0 && c.currentBytes == 0L)
    var computes = 0
    assert(c.getOrCompute("k") { computes += 1; "v" } == "v")
    assert(computes == 1 && c.entryCount == 1)
  }
}
