package org.apache.spark

/** The two private[spark] members the benchmark needs. */
object PerfbenchSpark {
  /** Wait until every event posted so far has reached the listeners, so a
    * span's counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop every block of an RDD. `getPersistentRDDs` holds RDDs weakly, so
    * the blocks of an RDD the program no longer references stay in the
    * block manager until the context cleaner gets to them after a GC;
    * this removes them now. */
  def removeRdd(sc: SparkContext, id: Int): Unit =
    sc.env.blockManager.master.removeRdd(id, blocking = true)
}
