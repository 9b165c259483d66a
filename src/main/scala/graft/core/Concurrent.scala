package graft.core

import java.util.concurrent.atomic.AtomicInteger

/** The one way the load path runs driver-side work at once: the store's
  * per-table write lanes and the orchestrator's per-level loaders.
  */
object Concurrent {

  /** Run `tasks` on at most `width` threads started by the calling thread
    * for this call, each thread taking the next task not yet started.
    * Waits for every task, even when interrupted (the interrupt flag is
    * restored afterwards), and returns each task's result or throwable in
    * input order.
    *
    * Fresh threads, not a shared pool: a new thread inherits the caller's
    * Spark local properties (job group, scheduler pool, tracing tags), so
    * every job a task submits is attributed to the caller. A pooled thread
    * keeps whatever properties it was created with.
    */
  def all[T](width: Int, name: String)(tasks: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val out = new Array[Either[Throwable, T]](tasks.length)
    val next = new AtomicInteger(0)
    val threads = (0 until math.min(math.max(width, 1), tasks.length)).map { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.length) {
          out(k) = try Right(tasks(k)()) catch { case e: Throwable => Left(e) }
          k = next.getAndIncrement()
        }
      }, s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    out.toSeq
  }

  /** The results of [[all]], or its first throwable in input order with
    * the later ones attached as suppressed.
    */
  def results[T](outcomes: Seq[Either[Throwable, T]]): Seq[T] =
    outcomes.collect { case Left(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => outcomes.collect { case Right(v) => v }
    }
}
