package org.apache.spark

/** Package-private-crossing bridge (the [[org.apache.spark.sql.GraftPlanBridge]]
  * pattern): read-only visibility into the driver's storage-memory state so
  * graft's build scheduler can defend itself against broadcast accumulation
  * (PERF_NOTES_r12 §4: on a drag epoch, 8 concurrent model writers held
  * enough live 256 MB dim broadcasts to exhaust driver storage memory).
  * Uses only stable internals: SparkEnv's MemoryManager counters and the
  * BlockManager's block-id listing. Nothing here mutates Spark state.
  */
object GraftRuntimeBridge {

  /** (used, max) bytes of the driver's on-heap storage pool — the pool
    * broadcast relations are built against. None outside an active env. */
  def driverStorageMemory(): Option[(Long, Long)] =
    Option(SparkEnv.get).map { env =>
      val mm = env.memoryManager
      (mm.onHeapStorageMemoryUsed, mm.maxOnHeapStorageMemory)
    }

  /** Bytes of driver storage memory currently held by BROADCAST blocks
    * (TorrentBroadcast values + pieces). Counted separately from total
    * storage because persisted datasets legitimately fill the pool — only
    * broadcast accumulation is the build-abort hazard. None outside an
    * active env. */
  def driverBroadcastBytes(): Option[Long] =
    Option(SparkEnv.get).map { env =>
      val bm = env.blockManager
      // getStatus checks the memory store for the block, then reads its
      // entry: a block removed between the two (a broadcast destroyed by
      // the ContextCleaner mid-listing) throws an NPE. It holds no bytes.
      bm.getMatchingBlockIds(_.isBroadcast)
        .flatMap(id =>
          try bm.getStatus(id) catch { case _: NullPointerException => None })
        .map(_.memSize)
        .sum
    }
}
