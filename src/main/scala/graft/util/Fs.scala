package graft.util

import java.nio.file.{Files, Path}

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

  /** Recursive delete (dirs and files; no-op if absent). A directory's
    * immediate children delete in parallel (round-18, guide §1: DROP
    * TABLE of a many-file table spent ~360 ms of q281's wall in this
    * walk single-threaded; per-file unlink latency dominates, and
    * unlinks of sibling entries are independent). Ordering is
    * preserved where it matters — a directory is only removed after
    * every child delete has completed. */
  def rmTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val kids = children(p)
        // fan out only from the caller's thread: a nested level going
        // parallel again would cascade 8^depth short-lived threads
        if (kids.size >= 8 &&
            !Thread.currentThread().getName.startsWith("graft-fs-par"))
          kids.par(8).foreach(rmTree)
        else kids.foreach(rmTree)
      }
      Files.delete(p)
    }

  /** Minimal bounded-parallel foreach over a Seq (no external
    * parallel-collections dependency): `n` worker threads drain an
    * index counter. Exceptions propagate (first one wins). */
  implicit final class ParSeq[A](private val xs: Seq[A]) {
    def par(n: Int): ParRunner[A] = new ParRunner(xs, n)
  }
  final class ParRunner[A](xs: Seq[A], n: Int) {
    def foreach(f: A => Unit): Unit = {
      // indexed once: `children` returns a List, whose size and apply(i)
      // are O(n) each, so indexing it per step would make the drain O(n²)
      val items = xs.toIndexedSeq
      val size = items.size
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = (0 until math.min(n, size)).map { _ =>
        val t = new Thread(() => {
          var i = idx.getAndIncrement()
          while (i < size && err.get() == null) {
            try f(items(i))
            catch { case e: Throwable => err.compareAndSet(null, e): Unit }
            i = idx.getAndIncrement()
          }
        }, "graft-fs-par")
        t.setDaemon(true); t.start(); t
      }
      threads.foreach(_.join())
      if (err.get() != null) throw err.get()
    }
  }
}
