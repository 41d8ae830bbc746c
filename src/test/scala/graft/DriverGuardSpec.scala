package graft

/** Pins the broadcast-memory self-defense mechanics behind the r12
  * SF10-replica abort fix: dead broadcasts are reclaimable on demand (not
  * only at the JVM's leisure), and buildAll's admission control blocks
  * under LIVE broadcast pressure but never deadlocks. The fixtures use
  * explicit SparkContext broadcasts — the same TorrentBroadcast blocks a
  * BroadcastExchange pins, without needing an 8-writer SF10 build to
  * reproduce the shape. */
class DriverGuardSpec extends SparkSpec {

  private val Mb = 1 << 20

  private def awaitBelow(bytes: Long, timeoutMs: Long,
      held: => Long = DriverGuard.broadcastBytes): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (held <= bytes) return true
      DriverGuard.reclaim(minIntervalMs = 500)
      Thread.sleep(200)
    }
    held <= bytes
  }

  test("storage pool and broadcast bytes are readable") {
    spark.range(1).count() // ensure the env is live
    val (used, max) = DriverGuard.storage
    assert(max > 0L, "storage pool max must be positive with a live env")
    assert(used >= 0L && used <= max)
    assert(DriverGuard.broadcastBytes >= 0L)
  }

  test("reclaim frees DEAD broadcast blocks promptly") {
    // measured on the six fixtures' own BroadcastBlockId blocks: a total
    // over all broadcast blocks also counts what earlier suites left
    // dying, which can be freed mid-test and shrink the measured delta
    var refs = (0 until 6).map(_ =>
      spark.sparkContext.broadcast(new Array[Byte](16 * Mb)))
    refs.foreach(b => assert(b.value.length == 16 * Mb))
    val ids = refs.map(_.id).toSet
    def fixtureBytes = org.apache.spark.BroadcastBlocks.bytes(ids)
    val loaded = fixtureBytes
    assert(loaded >= 6L * 16 * Mb,
      s"expected >=96MB of broadcast blocks, saw $loaded bytes")
    refs = null // dead: only the weak refs in ContextCleaner remain
    assert(awaitBelow(32L * Mb, 30000, fixtureBytes),
      s"dead broadcasts not reclaimed: $fixtureBytes fixture bytes still held")
  }

  test("admit passes immediately when below the watermark") {
    val t0 = System.nanoTime()
    assert(DriverGuard.admit(maxFraction = 0.99, timeoutMs = 5000))
    assert((System.nanoTime() - t0) / 1e6 < 1000,
      "healthy-path admit must not wait")
  }

  test("admit blocks under LIVE pressure, times out, then admits once freed") {
    awaitBelow(8L * Mb, 20000)
    var live = spark.sparkContext.broadcast(new Array[Byte](32 * Mb))
    assert(live.value.length == 32 * Mb)
    val (_, max) = DriverGuard.storage
    // watermark below the live block: admission must wait, then time out
    val tight = (16.0 * Mb) / max.toDouble
    val t0 = System.nanoTime()
    val admitted = DriverGuard.admit(maxFraction = tight, timeoutMs = 1500,
      pollMs = 100)
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(!admitted, "admit must report timeout while pressure is LIVE")
    assert(waitedMs >= 1400, f"admit returned after $waitedMs%.0f ms — did not wait")
    // free the pressure: destroy is the deterministic release (the build's
    // organic path is GC + ContextCleaner, proven in the reclaim test)
    live.destroy()
    live = null
    assert(DriverGuard.admit(maxFraction = tight, timeoutMs = 10000,
      pollMs = 100), "admit must succeed once the live broadcast is gone")
  }
}
