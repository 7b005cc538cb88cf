package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

/** The engine's one driver-side worker pool: a lazy, bounded (8), daemon
  * pool for short independent jobs — the per-file fold parses after a
  * DML wave and the sibling unlinks of a tree delete. Never more than 8
  * wide, so driver-side metadata work does not compete with executor
  * threads for the host.
  *
  * Runs serially below [[SerialBelow]] elements (the hand-off costs more
  * than it saves) and when the caller is already a pool thread: a task
  * never waits on the pool, so nested use cannot deadlock it.
  */
object Par {
  private val Width = 8
  private val SerialBelow = 3
  private val ThreadName = "graft-par"

  private lazy val pool = Executors.newFixedThreadPool(Width,
    (r: Runnable) => {
      val t = new Thread(r, ThreadName)
      t.setDaemon(true)
      t
    })

  /** Order-preserving map. Every element runs; the first failure in
    * element order is rethrown as itself, not wrapped. */
  def map[A, B](in: Seq[A])(f: A => B): Vector[B] =
    if (in.size < SerialBelow ||
        Thread.currentThread().getName == ThreadName) in.map(f).toVector
    else {
      val tasks = in.map(a => (() => f(a)): Callable[B]).asJava
      pool.invokeAll(tasks).asScala.map { fut =>
        try fut.get()
        catch { case e: ExecutionException => throw e.getCause }
      }.toVector
    }

  def foreach[A](in: Seq[A])(f: A => Unit): Unit = map(in)(f): Unit
}
