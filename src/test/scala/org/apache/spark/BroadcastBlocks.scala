package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's broadcast blocks by broadcast id: the
  * bytes held by named broadcasts only, so a spec can measure its own
  * fixtures without counting broadcasts other suites left dying. */
object BroadcastBlocks {

  /** Driver storage bytes held by the blocks (value + pieces) of the
    * broadcasts with these ids; 0 with no active env. */
  def bytes(ids: Set[Long]): Long =
    Option(SparkEnv.get).fold(0L) { env =>
      val bm = env.blockManager
      bm.getMatchingBlockIds {
        case b: BroadcastBlockId => ids(b.broadcastId)
        case _ => false
      }.flatMap(bm.getStatus(_)).map(_.memSize).sum
    }
}
