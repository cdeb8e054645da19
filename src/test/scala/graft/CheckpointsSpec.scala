package graft

import org.apache.spark.sql.functions._

import graft.sources.IndexStore

/** The cache seam's frame eviction contract ([[IndexStore.cachedFrame]]):
  * frames are released only for PROVABLY DEAD sessions. A localCheckpoint
  * block is non-recomputable, so the round-16 behavior (evict everything
  * that isn't the caller's) would break a concurrently-live sibling
  * session's next re-read — the first test here fails against that code.
  */
class CheckpointsSpec extends SparkSpec {

  private val origin = IndexStore.FromSource(sf, Seq("embeddings"))

  /** Frames of `cache` alive now: each miss adds one, each evict drops one. */
  private def size(cache: String): Long = {
    val c = IndexStore.cacheCounts(cache)
    c.misses - c.evicts
  }

  test("two LIVE sessions interleave getOrCompute on one FrameCache " +
    "and neither evicts the other: both frames stay readable") {
    val cache = "spec-live-siblings"
    val s1 = spark
    val s2 = spark.newSession()
    val f1 = IndexStore.cachedFrame(s1, cache, "g", origin)(
      s1.range(10).select(col("id")))
    val f2 = IndexStore.cachedFrame(s2, cache, "g", origin)(
      s2.range(20).select(col("id")))
    // the second call must NOT have released the first session's blocks
    assert(size(cache) == 2)
    assert(f1.count() == 10L)
    assert(f2.count() == 20L)
    // and a further interleave still serves both cached frames intact
    assert(IndexStore.cachedFrame(s1, cache, "g", origin)(
      sys.error("must re-serve, not recompute")).count() == 10L)
    assert(IndexStore.cachedFrame(s2, cache, "g", origin)(
      sys.error("must re-serve, not recompute")).count() == 20L)
  }

  test("a provably-dead session's entries ARE purged on the next call " +
    "from any live session") {
    val cache = "spec-dead-session"
    val s1 = spark
    val s2 = spark.newSession()
    IndexStore.cachedFrame(s2, cache, "g", origin)(
      s2.range(5).select(col("id")))
    assert(size(cache) == 1)
    // simulate s2's instance being GC'd (the weak-ref clearing the
    // purge keys on, made deterministic via the test seam)
    IndexStore.forgetSession(s2)
    IndexStore.cachedFrame(s1, cache, "g", origin)(
      s1.range(7).select(col("id")))
    // s2's dead entry evicted; only s1's survives
    assert(size(cache) == 1)
    assert(IndexStore.cachedFrame(s1, cache, "g", origin)(
      sys.error("must re-serve, not recompute")).count() == 7L)
  }
}
