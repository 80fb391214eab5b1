package org.apache.spark

/** Access to the listener bus and the context cleaner, which Spark keeps
  * package-private. */
object BenchBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private lazy val referenceBuffer = {
    val f = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
    f.setAccessible(true)
    f
  }

  /** Cleanup tasks (RDD, shuffle, broadcast, checkpoint) whose owner has
    * been collected but that the cleaner thread has not run yet. */
  def pendingCleanups(sc: SparkContext): Int = sc.cleaner.map { c =>
    val refs = referenceBuffer.get(c).asInstanceOf[java.util.Set[CleanupTaskWeakReference]]
    var n = 0
    refs.forEach(r => if (r.get() == null) n += 1)
    n
  }.getOrElse(0)
}
