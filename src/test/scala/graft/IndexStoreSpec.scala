package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.VectorSearch
import graft.sources.IndexStore

class IndexStoreSpec extends SparkSpec {

  tempDirTest("save then load round-trips mapping and vectors") { newDir =>
    val dir = newDir("graft_idx").toString
    val mapping = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val vectors = Tables.load(spark, sf, "embeddings")
    IndexStore.save(mapping, vectors, dir)
    val m = IndexStore.loadMapping(spark, dir, mapping.schema)
    val v = IndexStore.loadVectors(spark, dir, vectors.schema)
    assert(m.count() == mapping.count())
    assert(v.count() == vectors.count())
  }

  test("loadOrInit on a missing path is an empty frame with the schema") {
    val vectors = Tables.load(spark, sf, "embeddings")
    val empty = IndexStore.loadVectors(spark, "/tmp/graft_idx_missing",
      vectors.schema)
    assert(empty.count() == 0)
    assert(empty.schema == vectors.schema)
  }

  tempDirTest("indexDir fingerprint invalidates on source change, incl. dirs") {
    newDir =>
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val d = newDir("graft_fp").toString
    // single-file source: a size change changes the index path
    Files.writeString(Paths.get(d, "t.parquet"), "aa")
    val dir1 = IndexStore.indexDir(d, "x-v1", "t")
    Files.writeString(Paths.get(d, "t.parquet"), "aaa")
    assert(IndexStore.indexDir(d, "x-v1", "t") != dir1)
    // directory-shaped source: a same-size part-file rewrite (new mtime)
    // changes the path even though the dir entry itself is unchanged
    val ds = Paths.get(d, "u.parquet")
    Files.createDirectories(ds)
    val part = ds.resolve("part-0")
    Files.writeString(part, "aa")
    Files.setLastModifiedTime(part, FileTime.fromMillis(1000000L))
    val dir3 = IndexStore.indexDir(d, "x-v1", "u")
    Files.writeString(part, "bb")
    Files.setLastModifiedTime(part, FileTime.fromMillis(2000000L))
    assert(IndexStore.indexDir(d, "x-v1", "u") != dir3)
    // stable inputs → stable path (no accidental churn)
    assert(IndexStore.indexDir(d, "x-v1", "u") ==
      IndexStore.indexDir(d, "x-v1", "u"))
  }

  // ---- crash-point fault injection for the manifest commit protocol ----
  // The protocol's three claims (IndexStore manifest scaladoc,
  // StreamingIndex.pruneVersions): a version is invisible until its
  // manifest commits, a checkpointed replay rewrites the same version
  // deterministically, and the vacuum never collects a half-written
  // survivor. Each test below reproduces the exact on-disk + checkpoint
  // state a writer killed at that point leaves behind, then drives the
  // recovery path end-to-end.

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  private def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  tempDirTest("writer killed between segment write and manifest commit: " +
      "readers ignore the dir, the checkpointed replay recommits " +
      "the identical version") { newDir =>
    import graft.streaming.StreamingIndex
    val tmp = newDir("graft_crash_commit").toString
    val (landing, root, ckpt) = (s"$tmp/landing", s"$tmp/root",
      s"$tmp/ckpt")
    def batch(ids: Seq[Long], shift: Double) = {
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(s"doc$i",
          s"text$i", Seq(i * 1.0 + shift, 1.0, 0.0), "add")), 1),
        StreamingIndex.BatchSchema)
    }
    StreamingIndex.stageInto(batch(Seq(1L, 2L), 0.0), landing, "batch0")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    StreamingIndex.stageInto(batch(Seq(2L, 3L), 0.5), landing, "batch1")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    assert(StreamingIndex.latestVersion(root).contains(1L))
    // snapshot the checkpoint BEFORE batch 2 — a writer killed inside
    // foreachBatch never commits the batch to the checkpoint either
    copyDir(ckpt, s"$tmp/ckpt_pre")
    StreamingIndex.stageInto(batch(Seq(4L), 0.0), landing, "batch2")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    assert(StreamingIndex.latestVersion(root).contains(2L))
    val want = StreamingIndex.loadMappingAt(spark, s"$root/v2")
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    // CRASH STATE: v2's segments on disk, manifest never committed,
    // checkpoint unaware of batch 2 — byte-equivalent to a kill between
    // saveDataset(vSeg) and writeManifest
    rmTree(s"$root/v2/manifest")
    rmTree(ckpt)
    copyDir(s"$tmp/ckpt_pre", ckpt)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/v2/mapping"))) // segments present
    // claim 1: the uncommitted dir is invisible — readers serve v1
    assert(StreamingIndex.latestVersion(root).contains(1L))
    assert(StreamingIndex.searchLatest(spark, root,
      Seq(1.0, 1.0, 0.0), k = 2).count() == 2)
    // claim 2: the replay redelivers batch 2 under the SAME id, folds
    // from the true predecessor v1 (never from its own crashed
    // segments), overwrites them, and commits — bit-identical result
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    assert(StreamingIndex.latestVersion(root).contains(2L))
    val got = StreamingIndex.loadMappingAt(spark, s"$root/v2")
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  tempDirTest("in-chain auto-compaction killed before its manifest commits: " +
      "the replay re-folds the same resolved version deterministically") {
    newDir =>
    import graft.streaming.StreamingIndex
    val tmp = newDir("graft_crash_fold").toString
    val (landing, root, ckpt) = (s"$tmp/landing", s"$tmp/root",
      s"$tmp/ckpt")
    def batch(ids: Seq[Long], shift: Double) = {
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(s"doc$i",
          s"text$i", Seq(i * 1.0 + shift, 1.0, 0.0), "add")), 1),
        StreamingIndex.BatchSchema)
    }
    // maxSegments=2 forces batch 2 onto the COMPACTION branch of the
    // fold (resolved state as the version's own single segments) — the
    // other half of the commit protocol the plain-append crash test
    // does not reach
    StreamingIndex.stageInto(batch(Seq(1L, 2L), 0.0), landing, "batch0")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt,
      maxSegments = 2)
    StreamingIndex.stageInto(batch(Seq(3L), 0.0), landing, "batch1")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt,
      maxSegments = 2)
    copyDir(ckpt, s"$tmp/ckpt_pre")
    StreamingIndex.stageInto(batch(Seq(2L, 4L), 0.9), landing, "batch2")
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt,
      maxSegments = 2)
    // the fold happened: v2's manifest references ONLY its own segments
    val m = IndexStore.readManifest(spark, s"$root/v2")
    assert(m.forall(_._2.contains("/v2/")), m)
    val want = StreamingIndex.loadMappingAt(spark, s"$root/v2")
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    // CRASH between the fold's segment writes and its manifest
    rmTree(s"$root/v2/manifest")
    rmTree(ckpt)
    copyDir(s"$tmp/ckpt_pre", ckpt)
    assert(StreamingIndex.latestVersion(root).contains(1L))
    // replay: the fold derives its compaction decision from the
    // PREDECESSOR's manifest (not its own crashed output), so the
    // re-run takes the same branch and rewrites the same version
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt,
      maxSegments = 2)
    assert(StreamingIndex.latestVersion(root).contains(2L))
    val got = StreamingIndex.loadMappingAt(spark, s"$root/v2")
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // and the re-folded manifest is again self-contained
    assert(IndexStore.readManifest(spark, s"$root/v2")
      .forall(_._2.contains("/v2/")))
  }

  tempDirTest("compaction killed before its manifest commits: the old root " +
      "keeps serving, a re-run completes with the resolved state") { newDir =>
    import graft.streaming.StreamingIndex
    // reuse the committed ingest fixture chain as the compaction input
    StreamingIndex.streamingIndexIngest(spark, sf).count()
    val root = IndexStore.indexDir(sf, "stream-index-v4", "documents")
    val srcV = s"$root/v${StreamingIndex.latestVersion(root).get}"
    val want = StreamingIndex.loadMappingAt(spark, srcV)
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    val out = newDir("graft_crash_compact").toString
    StreamingIndex.compactTo(spark, root, out)
    // CRASH STATE: both artifact segments written, manifest missing
    rmTree(s"$out/v0/manifest")
    // the crashed compaction is invisible: the swap condition
    // (latestVersion(out) defined) is false, the caller keeps the old
    // root, which still resolves in full
    assert(StreamingIndex.latestVersion(out).isEmpty)
    assert(StreamingIndex.loadMappingAt(spark, srcV)
      .orderBy("str_id").collect().map(_.toSeq).toSeq == want)
    // recovery: re-run rewrites the same resolved state and commits
    StreamingIndex.compactTo(spark, root, out)
    assert(StreamingIndex.latestVersion(out).contains(0L))
    assert(StreamingIndex.loadMappingAt(spark, s"$out/v0")
      .orderBy("str_id").collect().map(_.toSeq).toSeq == want)
  }

  tempDirTest("vacuum killed mid-sweep: a re-run finishes the prune " +
      "idempotently and never collects the half-written survivor") { newDir =>
    import graft.streaming.StreamingIndex
    val root = newDir("graft_crash_prune").toString
    def seg(path: String): Unit =
      IndexStore.saveDataset(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StreamingIndex.MappingSchema), path)
    (0L to 4L).foreach { v =>
      seg(s"$root/v$v/mapping")
      IndexStore.writeManifest(spark, s"$root/v$v",
        (0L to v).map(i => ("mapping", s"$root/v$i/mapping", i)))
    }
    // a half-written NEWER version (writer in flight during the vacuum)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/v5/mapping"))
    // CRASH STATE: the vacuum swept v0's manifest but was killed before
    // reaching v1/v2 — exactly what doomed-in-order sweeping leaves
    rmTree(s"$root/v0/manifest")
    // recovery: the re-run treats the remaining chain as-is (v0 is no
    // longer committed, so doomed = v1, v2) and finishes the job
    val deleted = StreamingIndex.pruneVersions(spark, root, keep = 2)
    assert(deleted == Seq(1L, 2L))
    Seq(0L, 1L, 2L).foreach { v =>
      assert(!IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
      // refcounted segments outlive their version's manifest
      assert(IndexStore.committed(s"$root/v$v/mapping"), s"v$v")
    }
    // survivors resolve in full, the half-written v5 was never touched
    assert(StreamingIndex.latestVersion(root).contains(4L))
    assert(StreamingIndex.loadMappingAt(spark, s"$root/v4").count() == 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/v5/mapping")))
    // and a third pass has nothing left to do
    assert(StreamingIndex.pruneVersions(spark, root, keep = 2).isEmpty)
  }

  test("searching an empty index yields an empty result, not an error") {
    // the reference's empty-index guard (main.py:152-153) — batch form:
    // k-NN over zero candidates is simply zero result rows
    val vectors = Tables.load(spark, sf, "embeddings")
    val empty = IndexStore.loadVectors(spark, "/tmp/graft_idx_missing",
      vectors.schema)
    empty.createOrReplaceTempView("graft_empty_vectors")
    import graft.functions.VectorOps._
    val q = vectors.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), l2Normalize(col("embedding")).as("qv"))
    val res = empty.select(col("vec_id"), l2Normalize(col("embedding")).as("v"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), squaredL2(col("qv"), col("v")))
    assert(res.count() == 0)
  }

  // ---- the cache seam: every value is checked against its token ----

  tempDirTest("a write through a session that never read the path " +
      "invalidates another session's cached schema") { newDir =>
    val path = s"${newDir("graft_schema")}/t"
    spark.range(3).toDF("a").write.parquet(path)
    assert(IndexStore.readCached(spark, path).columns.toSeq == Seq("a"))
    // a sibling session, which has never read through the seam,
    // overwrites the path with a wider schema
    val other = spark.newSession()
    other.range(3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val again = IndexStore.readCached(spark, path)
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.select("b").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 4L))
  }

  tempDirTest("an in-place fixture rewrite refreshes the source-derived " +
      "counts in the same JVM") { newDir =>
    import java.nio.file.{Paths, StandardCopyOption}
    import graft.operators.{AnnSearch, Dedup, Multimodal}
    val dir = newDir("graft_fixture").toString
    Seq("documents", "embeddings").foreach(t => Files.copy(
      Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet")))
    // the media fixture this dir builds lives under its own index root
    val indexRoot = Paths.get(IndexStore.indexDir(dir, "x", "documents"))
      .getParent.toFile
    try {
      def counts = (AnnSearch.tableCount(spark, dir, "documents"),
        Dedup.corpusCount(spark, dir),
        Multimodal.estimatedPayloadBytes(spark, dir))
      val before = counts
      // rewrite documents.parquet in place with every other document
      val half = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      val n = half.count()
      val staged = s"${newDir("graft_fixture_half")}/t"
      half.coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(dir, "documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val bytes = Multimodal.mediaTable(spark, dir)
        .agg(sum(col("meta.decoded_bytes"))).head.getLong(0)
      assert(n < before._1)
      assert(bytes != before._3)
      assert(counts == ((n, 2 * n, bytes)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(indexRoot)
  }

  test("a warm read of a committed IVF version and of a graph version " +
      "misses no cache and runs the warm call's jobs") {
    import graft.operators.{AnnSearch, GraphAnn}
    val queries = AnnSearch.fixtureQueries(spark, sf, 10)
    val ivf = AnnSearch.ensureIvfIndex(spark, sf)
    val np = AnnSearch.defaultProbe(spark, sf)
    val graph = GraphAnn.buildGraphIndex(spark, sf)
    val n = AnnSearch.embeddingCount(spark, sf)
    val ef = GraphAnn.autoEf(n)
    val hops = GraphAnn.autoHops(n, GraphAnn.autoDegree(n))
    def misses = IndexStore.cacheCounts.values.map(_.misses).sum
    val reads: Seq[(String, () => Unit)] = Seq(
      "searchIndexAt" -> (() =>
        AnnSearch.searchIndexAt(spark, ivf, queries, 10, np, 10L).collect()),
      "graphSearchAt" -> (() =>
        GraphAnn.graphSearchAt(spark, graph, queries, 10, ef, hops)
          .collect()))
    for ((name, read) <- reads) {
      read()
      val warm = jobCount(read)
      val missed = misses
      val again = jobCount(read)
      assert(misses == missed, name)
      assert(again == warm, name)
    }
  }
}
