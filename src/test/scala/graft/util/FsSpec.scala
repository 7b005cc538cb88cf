package graft.util

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicIntegerArray

import Fs.ParSeq

/** [[Fs]]: the bounded-parallel foreach visits every element of a long
  * linear Seq exactly once, and `rmTree` removes a wide directory. */
class FsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("par(8).foreach over a 10,000-element List visits each element once") {
    val n = 10000
    val seen = new AtomicIntegerArray(n)
    List.range(0, n).par(8).foreach(i => seen.incrementAndGet(i): Unit)
    assert((0 until n).forall(seen.get(_) == 1))
  }

  test("rmTree of a 2,000-file directory leaves nothing behind") {
    val root = Files.createTempDirectory("graft_rmtree_")
    val sub = Files.createDirectory(root.resolve("sub"))
    (0 until 2000).foreach(i => Files.write(sub.resolve(s"f$i"), Array[Byte](1)))
    Fs.rmTree(root)
    assert(!Files.exists(root))
  }
}
