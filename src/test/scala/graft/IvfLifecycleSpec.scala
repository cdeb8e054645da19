package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorOps.l2Normalize
import graft.operators.{AnnSearch, Quantize}
import graft.sources.IndexStore

/** The IVF write lifecycle (append, delete, in-chain fold) is one body
  * over two codecs, flat vectors and PQ codes. These specs drive both
  * through their public `*At` entry points and pin that the guards, the
  * fold/tombstone policy and the probe-and-scan read are the same for
  * each.
  */
class IvfLifecycleSpec extends SparkSpec {

  /** One codec's lifecycle entry points over its fixture base index;
    * `search` is its top-10 read of (version dir, rescore corpus,
    * expected query count).
    */
  case class Chain(name: String, data: String, base: String,
                   append: (String, DataFrame, String, Int) => Unit,
                   delete: (String, DataFrame, String) => Unit,
                   search: (String, DataFrame, Long) => DataFrame)

  private lazy val queries = AnnSearch.fixtureQueries(spark, sf, 10)
  private lazy val nProbe = AnnSearch.defaultProbe(spark, sf)

  private lazy val chains: Seq[Chain] = {
    val m = Quantize.resolveM(spark, sf, 0)
    val nk = AnnSearch.pqCodebookSize(spark, sf)
    Seq(
      Chain("flat", "vectors", AnnSearch.ensureIvfIndex(spark, sf),
        (dir, b, out, maxSeg) =>
          AnnSearch.appendToIvfIndexAt(spark, dir, b, out, maxSeg),
        (dir, ids, out) => AnnSearch.deleteFromIvfIndexAt(spark, dir, ids,
          out),
        (dir, _, q) =>
          AnnSearch.searchIndexAt(spark, dir, queries, 10, nProbe, q)),
      Chain("pq", "codes", AnnSearch.buildIvfPqIndex(spark, sf),
        (dir, b, out, maxSeg) =>
          AnnSearch.appendToIvfPqIndexAt(spark, dir, b, out, m, nk, maxSeg),
        (dir, ids, out) => AnnSearch.deleteFromIvfPqIndexAt(spark, dir, ids,
          out),
        (dir, corpus, q) => AnnSearch.ivfPqSearchAt(spark, dir, queries,
          corpus, 10, nProbe, m, nk, 40, q)))
  }

  private def shifted(off: Long, d: Double): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + off).as("vec_id"),
        expr(s"transform(embedding, x -> cast(x as double) + $d)").as("v"))

  tempDirTest("append and delete guards hold on both codecs") { newDir =>
    def tmp(p: String) = newDir(p).toString
    for (c <- chains) {
      // a batch of the wrong width would NULL every centroid distance
      val wide = shifted(140000L, 0.01)
        .select(col("vec_id"), concat(col("v"), array(lit(0.0))).as("v"))
      val out = tmp(s"graft_guard_${c.name}_dim")
      val dimErr = intercept[IllegalArgumentException](
        c.append(c.base, wide, out, IndexStore.DefaultMaxSegments))
      assert(dimErr.getMessage.contains("batch dim"), c.name)
      assert(!IndexStore.committed(s"$out/manifest"), c.name)
      // a base that never committed is refused by append and delete
      val empty = tmp(s"graft_guard_${c.name}_base")
      val appErr = intercept[IllegalArgumentException](c.append(empty,
        shifted(140000L, 0.01), tmp("graft_guard_out"),
        IndexStore.DefaultMaxSegments))
      assert(appErr.getMessage.contains("is not a committed index version"),
        c.name)
      val delErr = intercept[IllegalArgumentException](c.delete(empty,
        shifted(140000L, 0.01).select(col("vec_id")), tmp("graft_guard_out")))
      assert(delErr.getMessage.contains("is not a committed index version"),
        c.name)
      // a replay onto a committed version is a no-op, even with another
      // batch: nothing under `out` is rewritten
      val app = tmp(s"graft_guard_${c.name}_app")
      c.append(c.base, shifted(140000L, 0.01), app,
        IndexStore.DefaultMaxSegments)
      val appFiles = files(app)
      c.append(c.base, shifted(150000L, 0.02), app,
        IndexStore.DefaultMaxSegments)
      assert(files(app) == appFiles, c.name)
      val del = tmp(s"graft_guard_${c.name}_del")
      c.delete(app, shifted(140000L, 0.01).select(col("vec_id"))
        .filter(col("vec_id") % 2 === 0), del)
      val delFiles = files(del)
      c.delete(app, shifted(140000L, 0.01).select(col("vec_id")), del)
      assert(files(del) == delFiles, c.name)
    }
  }

  for (name <- Seq("flat", "pq"))
    tempDirTest(s"$name: a zero-row append commits a version that reads " +
        "as its base") { newDir =>
      val c = chains.find(_.name == name).get
      val out = newDir(s"graft_empty_$name").toString
      c.append(c.base, shifted(160000L, 0.01).filter(lit(false)), out,
        IndexStore.DefaultMaxSegments)
      assert(IndexStore.committed(s"$out/manifest"))
      def live(dir: String) = AnnSearch.ivfLiveVectors(spark, dir, c.data)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(live(out).nonEmpty && live(out) == live(c.base))
      val corpus = AnnSearch.normalizedCorpus(spark, sf)
      def rows(dir: String) =
        c.search(dir, corpus, 10L).collect().map(_.toSeq).toSeq
      assert(rows(out).nonEmpty && rows(out) == rows(c.base))
    }

  tempDirTest("a write seeds the manifest and segment schema a read of " +
      "its version would infer") { newDir =>
    // what a read in a fresh JVM would find on disk
    def onDisk(out: String) = spark.read.parquet(s"$out/manifest").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(e => (e._1, e._3)).toSeq
    def seeded(out: String, segment: String): Unit = {
      val manifest = IndexStore.cached[Seq[(String, String, Long)]](
        "manifest", out, IndexStore.AtPath(s"$out/manifest"))(
        fail(s"$out: manifest not seeded"))
      assert(manifest == onDisk(out), out)
      val schema = IndexStore.cached[StructType]("schema", segment,
        IndexStore.AtPath(segment))(fail(s"$segment: schema not seeded"))
      assert(schema == spark.read.parquet(segment).schema, segment)
    }
    for (c <- chains) {
      val batch = shifted(170000L, 0.01)
      val app = newDir(s"graft_seed_${c.name}_app").toString
      c.append(c.base, batch, app, IndexStore.DefaultMaxSegments)
      seeded(app, s"$app/segment")
      val del = newDir(s"graft_seed_${c.name}_del").toString
      c.delete(app, batch.select(col("vec_id"))
        .filter(col("vec_id") % 2 === 0), del)
      seeded(del, s"$del/tombstones")
      // 2 data segments + 1 > 1: the fold rewrites the live rows
      val fold = newDir(s"graft_seed_${c.name}_fold").toString
      c.append(del, shifted(180000L, 0.02), fold, 1)
      seeded(fold, s"$fold/segment")
    }
  }

  tempDirTest("flat and PQ chains keep the same live ids and segment " +
      "shape through append, delete and the in-chain fold") { newDir =>
    def tmp(p: String) = newDir(p).toString
    val b1 = shifted(110000L, 0.01)
    val b2 = shifted(120000L, 0.02)
    val b3 = shifted(130000L, 0.03)
    val steps: Seq[(String, Chain, String) => Unit] = Seq(
      (dir, c, out) => c.append(dir, b1, out, IndexStore.DefaultMaxSegments),
      (dir, c, out) => c.delete(dir,
        b1.select(col("vec_id")).filter(col("vec_id") % 2 === 0), out),
      (dir, c, out) => c.append(dir, b2, out, 8),
      // 3 data segments + 1 > 2: the fold
      (dir, c, out) => c.append(dir, b3, out, 2))
    // every row any version holds, normalized as the index stores it
    val corpus = Seq(b1, b2, b3).foldLeft(
      AnnSearch.normalizedCorpus(spark, sf))((all, b) =>
      all.unionByName(b.select(col("vec_id"), l2Normalize(col("v")).as("v"))))
    // (live ids, data segments, tombstone segments) per version
    def state(c: Chain, dir: String): (Set[Long], Int, Int) = {
      val layout = AnnSearch.ivfLayout(spark, dir, c.data)
      (AnnSearch.ivfLiveVectors(spark, dir, c.data).select("vec_id")
        .collect().map(_.getLong(0)).toSet,
        layout.segments.size, layout.tombstones.size)
    }
    var dirs = chains.map(_.base)
    for ((step, i) <- steps.zipWithIndex) {
      dirs = chains.zip(dirs).map { case (c, dir) =>
        val out = tmp(s"graft_sym_${c.name}_v${i + 1}")
        step(dir, c, out)
        out
      }
      val Seq(flat, pq) = chains.zip(dirs).map { case (c, d) => state(c, d) }
      val sameIds = flat._1.nonEmpty && flat._1 == pq._1
      assert(sameIds, s"step ${i + 1}: flat-only " +
        s"${(flat._1 -- pq._1).take(5)}, pq-only ${(pq._1 -- flat._1).take(5)}")
      assert((flat._2, flat._3) == (pq._2, pq._3), s"step ${i + 1}")
      // the joined probe (segments under a union, tombstones anti-joined
      // on the candidates) reads exactly what the collect probe reads
      for ((c, dir) <- chains.zip(dirs)) {
        def rows(expectedQ: Long) =
          c.search(dir, corpus, expectedQ).collect().map(_.toSeq).toSeq
        val collected = rows(10L)
        val joined = rows(AnnSearch.JoinProbeQueryThreshold + 1)
        val same = collected.nonEmpty && joined == collected
        assert(same, s"${c.name} step ${i + 1}: joined-only " +
          s"${joined.diff(collected).take(3)}, collect-only " +
          s"${collected.diff(joined).take(3)}")
      }
    }
    // the last append folded both chains: one data segment, tombstones
    // retired, and the deleted half of the first batch stays gone
    val (ids, nSegs, nTombs) = state(chains.head, dirs.head)
    assert(nSegs == 1 && nTombs == 0)
    val deleted = b1.select("vec_id").filter(col("vec_id") % 2 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty && (ids & deleted).isEmpty)
  }
}
