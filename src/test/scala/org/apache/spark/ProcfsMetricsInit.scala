package org.apache.spark

/** Spark's process-tree metrics getter, which the executor heartbeat
  * builds on first use, forks `getconf PAGESIZE` once per JVM from its
  * constructor. The getter is package-private; this builds it up front,
  * so a test that counts the processes a later step starts does not
  * catch that one-time probe when the first heartbeat lands in its
  * window. */
object ProcfsMetricsInit {
  def apply(): Unit = { executor.ProcfsMetricsGetter.pTreeInfo; () }
}
