package org.apache.spark

/** Reads of Spark driver internals the benchmark needs. They are
  * `private[spark]`, hence this shim in the `org.apache.spark` package.
  */
object BenchBus {

  /** Drains the listener bus: returns once every event posted so far (task
    * ends, stage ends, SQL execution ends) has reached every listener.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Driver memory held by broadcast blocks. Spark's cleaner thread drops
    * a broadcast some time after a GC found its owner unreachable, so at
    * any instant this holds garbage the heap reading cannot yet shed.
    */
  def broadcastBytes(): Long = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).map { id =>
      // the cleaner may drop the block between listing and sizing it, and
      // getStatus then fails inside the memory store
      try bm.getStatus(id).map(_.memSize).getOrElse(0L)
      catch { case _: NullPointerException => 0L }
    }.sum
  }
}
