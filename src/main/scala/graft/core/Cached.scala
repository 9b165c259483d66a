package graft.core

import org.apache.spark.sql.Dataset

/** The lifetime rule for a frame cached by the code that uses it: the
  * reference keeps a loader's working state in caches that live for one
  * load and are dropped after it (graphkb.js:103-108), and every persist
  * on the load path is scoped the same way here.
  */
object Cached {

  /** Persist `frames` (in order, at the default MEMORY_AND_DISK level),
    * run `body`, then unpersist them (last first, non-blocking) even when
    * `body` throws. Persist a frame here before its first action, and
    * only when `body` consumes it more than once; a frame that outlives
    * `body` (a lazy result handed back to the caller) needs its own owner.
    */
  def withCached[T](frames: Dataset[_]*)(body: => T): T = {
    frames.foreach(_.persist())
    try body
    finally frames.reverseIterator.foreach(_.unpersist())
  }
}
