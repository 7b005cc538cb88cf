package graft.util

import java.nio.file.Files

/** [[Fs]]: `rmTree` removes a wide directory. */
class FsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("rmTree of a 2,000-file directory leaves nothing behind") {
    val root = Files.createTempDirectory("graft_rmtree_")
    val sub = Files.createDirectory(root.resolve("sub"))
    (0 until 2000).foreach(i => Files.write(sub.resolve(s"f$i"), Array[Byte](1)))
    Fs.rmTree(root)
    assert(!Files.exists(root))
  }
}
