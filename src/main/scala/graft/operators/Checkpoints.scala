package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of eager `localCheckpoint` materializations.
  *
  * `Dataset.localCheckpoint(true)` persists the frame's rows as RDD
  * blocks OUTSIDE the SQL cache manager — `spark.catalog.clearCache()`
  * cannot reach them, and they are otherwise reclaimed only when the
  * ContextCleaner notices the backing RDD is weakly unreachable (a GC,
  * at some later time). Iterative operators that checkpoint per round
  * (beam search's per-hop `visited`, NN-descent's per-round graph,
  * pointer-jumping's per-round labels, BPE's per-merge vocab) therefore
  * pin every superseded round's blocks until a GC happens to run: on a
  * long-lived session — a search service, a streamed ingest, a
  * benchmark sweep — that is unbounded dead storage-memory pressure,
  * measured as a ~2x slowdown of UNRELATED queries sharing the JVM
  * (round 13: `ann_ivf_persisted` 0.6 s -> 1.4 s once the graph beam
  * entries ran before it in the bench sweep).
  *
  * [[release]] drops exactly the blocks backing one checkpointed frame,
  * immediately. CONTRACT (caller-enforced): the frame must (a) come
  * from `localCheckpoint(true)` — its plan is a [[LogicalRDD]] leaf —
  * and (b) be fully superseded: every frame derived from it has itself
  * been eagerly materialized (checkpointed or written), because a
  * localCheckpoint truncates lineage and its blocks are NOT
  * recomputable — an action that still needs them after release fails.
  * Frames not matching the [[LogicalRDD]] shape are left untouched.
  */
private[graft] object Checkpoints {
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }
}
