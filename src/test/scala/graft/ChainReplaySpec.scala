package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.{AnnSearch, ShardedSearch}
import graft.streaming.StreamingIndex
import graft.streaming.StreamingIndex.{GraphFamily, IndexFamily, IvfFamily}

/** Every guarded streamed chain replays the way its checkpointed driver
  * promises. A fresh checkpoint over a root that already holds a
  * committed version above batch 0 is refused before anything under the
  * root is written. Replaying the last batch (its commit entry deleted)
  * lands on the same latest version with the same live ids, and the IVF
  * and graph steps rewrite no committed file doing it.
  */
class ChainReplaySpec extends SparkSpec {
  import spark.implicits._

  /** One chain kind. `fold(landing, root, ckpt)` stages the kind's two
    * batches (staging is idempotent) and folds whatever the checkpoint
    * has not; `live(versionDir)` is a version's live ids; `shards` > 0
    * keeps one chain per shard root `root/s<i>`. A flat-store replay
    * rewrites its version's files (deterministically), so only the
    * index steps are held to `files` staying put.
    */
  case class Kind(name: String, fold: (String, String, String) => Unit,
                  live: String => DataFrame, shards: Int = 0,
                  rewrites: Boolean = false)

  /** `window`'s growth batch: the 32 smallest ids, so every shard's
    * slice holds rows (the deep×wide micro-batch gate's shape).
    */
  private def inject(window: Int): DataFrame =
    AnnSearch.injectionBatch(spark, sf, window, 0.01 * window, rows = 32L)

  private def appends(fam: IndexFamily, bases: => Seq[String],
                      shards: Int = 0,
                      batch: Int => DataFrame = inject)
      : (String, String, String) => Unit = (landing, root, ckpt) => {
    StreamingIndex.stageBatches(landing, batch(1), batch(2))
    val roots =
      if (shards > 0) (0 until shards).map(s => s"$root/s$s") else Seq(root)
    StreamingIndex.appendChain(spark, fam, landing, ckpt, roots.zip(bases))
  }

  /** Batch 0 adds; batch 1 deletes every 2nd of them AND adds a second
    * wave, so the mixed batch's staged add-then-delete runs.
    */
  private def addDeletes(fam: IndexFamily, base: => String)
      : (String, String, String) => Unit = (landing, root, ckpt) => {
    val dels = inject(1).select(col("vec_id")).filter(col("vec_id") % 2 === 0)
      .withColumn("v", lit(null).cast("array<double>"))
      .withColumn("op", lit("delete"))
    StreamingIndex.stageBatches(landing,
      inject(1).withColumn("op", lit("add")),
      inject(2).withColumn("op", lit("add")).unionByName(dels))
    StreamingIndex.deleteChain(spark, fam, landing, ckpt, root, base)
  }

  /** Batch 0 adds three ids; batch 1 deletes one and adds one. Each
    * batch is its own ingest call, as `ingestAvailable` folds everything
    * landed into one batch.
    */
  private def flat(landing: String, root: String, ckpt: String): Unit = {
    def e(i: Int) = Seq.tabulate(3)(j => if (j == i) 1.0 else 0.0)
    Seq(
      Seq(("x1", "one", e(0), "add"), ("x2", "two", e(1), "add"),
        ("x3", "three", e(2), "add")),
      Seq(("x2", null, null: Seq[Double], "delete"),
        ("x4", "four", e(0), "add"))).zipWithIndex.foreach { case (b, i) =>
      StreamingIndex.stageInto(b.toDF("str_id", "text", "v", "op"), landing,
        s"batch$i")
      StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    }
  }

  private lazy val ivfBase = AnnSearch.ensureIvfIndex(spark, sf)
  private lazy val graphBase = GraphFamily.base(spark, sf)
  private val shards = ShardedSearch.DefaultShards

  private val kinds = Seq(
    Kind("flat ingest", flat,
      dir => StreamingIndex.loadMappingAt(spark, dir)
        .select(col("str_id"), col("faiss_id")),
      rewrites = true),
    Kind("IVF append", appends(IvfFamily, Seq(ivfBase)),
      IvfFamily.live(spark, _)),
    Kind("graph append", appends(GraphFamily, Seq(graphBase)),
      GraphFamily.live(spark, _)),
    Kind("sharded IVF append", appends(IvfFamily,
        ShardedSearch.buildShardedIvf(spark, sf, shards), shards),
      IvfFamily.live(spark, _), shards),
    // every batch routes no row to shard 0: its chain folds empty slices
    Kind("sharded IVF append with an empty shard", appends(IvfFamily,
        ShardedSearch.buildShardedIvf(spark, sf, shards), shards,
        w => inject(w).filter(
          ShardedSearch.shardOf(col("vec_id"), shards) =!= 0)),
      IvfFamily.live(spark, _), shards),
    Kind("IVF add/delete", addDeletes(IvfFamily, ivfBase),
      IvfFamily.live(spark, _)),
    Kind("graph add/delete", addDeletes(GraphFamily, graphBase),
      GraphFamily.live(spark, _)))

  /** (latest committed version, live ids there) of each chain root. */
  private def state(k: Kind, root: String): Seq[(Long, Set[Seq[Any]])] =
    (if (k.shards > 0) (0 until k.shards).map(s => s"$root/s$s")
     else Seq(root)).map { r =>
      val v = StreamingIndex.latestVersion(r).getOrElse(-1L)
      (v, k.live(s"$r/v$v").collect().map(_.toSeq).toSet)
    }

  for (k <- kinds) {
    tempDirTest(s"${k.name}: a fresh checkpoint over a root with a " +
        "committed version above batch 0 is refused and writes nothing") {
      newDir =>
        val dir = newDir("graft_replay_guard").toString
        val root = s"$dir/root"
        k.fold(s"$dir/landing", root, s"$dir/ckpt")
        assert(state(k, root).forall(_._1 == 1L))
        val before = files(root)
        val e = intercept[StreamingQueryException](
          k.fold(s"$dir/landing", root, s"$dir/ckpt-fresh"))
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
          .mkString(" | ")
        assert(msgs.contains("checkpoint/root mismatch"), msgs)
        assert(files(root) == before)
    }

    tempDirTest(s"${k.name}: replaying the last batch lands on the same " +
        "version with the same live ids") { newDir =>
      val dir = newDir("graft_replay").toString
      val (root, ckpt) = (s"$dir/root", s"$dir/ckpt")
      k.fold(s"$dir/landing", root, ckpt)
      val want = state(k, root)
      assert(want.forall(s => s._1 == 1L && s._2.nonEmpty))
      val before = files(root)
      // batch 1's offsets stay logged without its commit: the restart
      // re-runs it under the same id over the same files
      Seq("1", ".1.crc").foreach(f =>
        Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
      k.fold(s"$dir/landing", root, ckpt)
      assert(Files.exists(Paths.get(ckpt, "commits", "1")),
        "the replay did not re-run batch 1")
      assert(state(k, root) == want)
      if (!k.rewrites) assert(files(root) == before)
    }
  }
}
