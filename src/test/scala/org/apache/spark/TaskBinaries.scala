package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The task binaries of the stages a body runs. The DAG scheduler
  * broadcasts each stage's serialized (rdd, closure) or (rdd,
  * dependency) as a byte array, and the driver's block manager keeps the
  * bytes while the broadcast lives. */
object TaskBinaries {

  /** The task binaries of the stages `body` ran, or None when a
    * broadcast made meanwhile was already cleaned up (a GC let the
    * context cleaner drop it), so the caller can run `body` again. */
  def during(sc: SparkContext)(body: => Unit): Option[Seq[Array[Byte]]] = {
    val before = sc.broadcast(0)
    body
    val after = sc.broadcast(0)
    try {
      val bm = SparkEnv.get.blockManager
      val values = (before.id + 1 until after.id).map { id =>
        bm.getLocalValues(BroadcastBlockId(id)).map(_.data.toList)
      }
      if (values.exists(_.isEmpty)) None
      else Some(values.flatten.flatten.collect { case b: Array[Byte] => b })
    } finally {
      before.destroy()
      after.destroy()
    }
  }
}
