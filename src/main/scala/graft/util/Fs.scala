package graft.util

import java.nio.file.{Files, LinkOption, Path}

/** Tiny NIO helpers for the streaming working dirs.
  *
  * `Files.list` returns a Stream backed by an open directory descriptor;
  * dropping it without `close()` leaks one fd per directory visited until
  * GC happens to run the cleaner — under a long test session with many
  * checkpoint sweeps that is an fd-exhaustion path. Every directory
  * listing in the repo goes through [[children]], which materializes the
  * (always tiny) listing and closes the stream deterministically.
  */
object Fs {

  /** Immediate children of `p`, stream closed before returning. */
  def children(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try {
      val b = Seq.newBuilder[Path]
      val it = st.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    } finally st.close()
  }

  /** Recursive delete (dirs and files; no-op if absent). The files of
    * the whole tree delete on [[Par]] (DROP TABLE of a many-file table
    * spent ~360 ms of q281's wall in this walk single-threaded; per-file
    * unlink latency dominates, and the unlinks are independent), then
    * the directories, each after everything beneath it. */
  def rmTree(p: Path): Unit = {
    val files = Vector.newBuilder[Path]
    val dirs = Vector.newBuilder[Path]
    def walk(q: Path): Unit =
      if (Files.isDirectory(q, LinkOption.NOFOLLOW_LINKS)) {
        children(q).foreach(walk)
        dirs += q
      } else files += q
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      walk(p)
      Par.foreach(files.result())(Files.deleteIfExists(_): Unit)
      dirs.result().foreach(Files.deleteIfExists(_): Unit)
    }
  }
}
