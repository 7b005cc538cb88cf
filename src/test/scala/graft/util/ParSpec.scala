package graft.util

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicIntegerArray

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[Par]], the one driver-side worker pool: every element runs once and
  * in order, tree deletes reuse its threads instead of starting their
  * own, nested use cannot deadlock it, and a failure keeps its type. */
class ParSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("foreach over a 10,000-element List visits each element once") {
    val n = 10000
    val seen = new AtomicIntegerArray(n)
    Par.foreach(List.range(0, n))(i => seen.incrementAndGet(i): Unit)
    assert((0 until n).forall(seen.get(_) == 1))
  }

  test("50 rmTree calls on a 16-child directory start fewer than 50 threads") {
    val roots = (0 until 50).map { _ =>
      val root = Files.createTempDirectory("graft_par_rmtree_")
      (0 until 16).foreach(i => Files.write(root.resolve(s"f$i"), Array[Byte](1)))
      root
    }
    val mx = ManagementFactory.getThreadMXBean
    val before = mx.getTotalStartedThreadCount
    roots.foreach(Fs.rmTree)
    val started = mx.getTotalStartedThreadCount - before
    assert(roots.forall(!Files.exists(_)))
    assert(started < 50, s"$started threads started")
  }

  test("a nested map inside a map completes with the pool saturated") {
    // the first 8 outer elements hold every pool thread until all 8 are
    // running, so each nested map starts with no pool thread free
    val allBusy = new CountDownLatch(8)
    val run = Future(Par.map(0 until 16) { i =>
      allBusy.countDown()
      allBusy.await(30, TimeUnit.SECONDS)
      Par.map(0 until 16)(j => i * 16 + j).sum
    })
    val expected = (0 until 16).map(i => (0 until 16).map(i * 16 + _).sum)
    assert(Await.result(run, 60.seconds) == expected)
  }

  test("a failing element surfaces its own exception type") {
    val e = intercept[IllegalStateException] {
      Par.map(0 until 10) { i =>
        if (i == 7) throw new IllegalStateException("seven") else i
      }
    }
    assert(e.getMessage == "seven")
  }
}
