package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorAggregators.CentroidAgg
import graft.operators.{AnnSearch, VectorAnalytics}
import graft.sources.IndexStore

class AnnSpec extends SparkSpec {
  import spark.implicits._

  /** An expected query count just past the collect/joined switch: the
    * trigger a batch search takes, so the joined probe runs at fixture
    * scale through the same dispatch (its probe side stays a broadcast).
    */
  private val aboveJoinThreshold = AnnSearch.JoinProbeQueryThreshold + 1

  test("LSH approx kNN reaches high recall vs exact") {
    val rec = AnnSearch.annRecall(spark, sf).collect()
    val byMethod = rec.groupBy(_.getString(0)).map { case (m, rs) =>
      m -> rs.map(_.getAs[Double]("recall")).sum / rs.length
    }
    assert(byMethod("lsh") >= 0.8, s"lsh recall ${byMethod("lsh")}")
    assert(byMethod("ivf") >= 0.6, s"ivf recall ${byMethod("ivf")}")
    // same probe set as ivf + exact rescore of a generous margin: the SQ8
    // layout must not cost recall beyond the shared probe misses
    assert(byMethod("ivf_sq") >= byMethod("ivf") - 1e-9,
      s"ivf_sq recall ${byMethod("ivf_sq")} < ivf ${byMethod("ivf")}")
    // PQ trades the most recall for 30x storage; the exact-rescore margin
    // still has to keep it useful (measured ~0.63 avg on the fixture)
    assert(byMethod("pq") >= 0.5, s"pq recall ${byMethod("pq")}")
    // IVF+PQ composes probe misses ON TOP of PQ's quantization loss, so
    // it can only sit at or below flat PQ — and the floor keeps the
    // composed loss bounded (the family's aggressive end stays useful)
    assert(byMethod("ivf_pq") >= 0.4,
      s"ivf_pq recall ${byMethod("ivf_pq")}")
    assert(byMethod("ivf_pq") <= byMethod("pq") + 1e-9,
      s"ivf_pq ${byMethod("ivf_pq")} > pq ${byMethod("pq")}")
    // the graph leg (the reference's actual index family, HNSW at
    // main.py:60-62) sits at the family's high-recall end: measured 1.0
    // on every fixture, gated at the LSH tier
    assert(byMethod("knn_graph") >= 0.8,
      s"knn_graph recall ${byMethod("knn_graph")}")
    // the filtered beam saturates at fixture scale (measured 1.0 — its
    // truth is the exact FILTERED k-NN, like ivf_filtered's)
    assert(byMethod("graph_filtered") >= 0.8,
      s"graph_filtered recall ${byMethod("graph_filtered")}")
  }

  test("IVF+PQ at full probe is bit-identical to flat PQ") {
    // probing every cluster removes the probe loss entirely; both layouts
    // then score the SAME codes with the SAME codebooks through the SAME
    // margin/rescore tail — the compose changes pruning, not semantics
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    val want = graft.operators.Quantize.pqKnn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = AnnSearch.ivfPqKnn(spark, sf, nProbe = nc)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("persisted IVF probe prunes cluster partitions at the file source") {
    // auto-sized: √500 = 22 clusters on the fixture (nlist ≈ √n)
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    assert(nc == math.round(math.sqrt(n.toDouble)).toInt)
    val dir = AnnSearch.buildIvfIndex(spark, sf)
    assert(dir == IndexStore.indexDir(sf, s"ivf$nc-v1", "embeddings"))
    assert(IndexStore.committed(s"$dir/centroids"))
    val res = AnnSearch.ivfKnn(spark, sf)
    assert(res.count() > 0)
    // the probe's isin literals must reach the scan as a non-empty
    // PartitionFilters entry — directory-level pruning, not a post-filter
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).nonEmpty,
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // and the persisted layout is physically partitioned by cluster id
    // (hive-style dirs), so those PartitionFilters prune at file listing
    // (k-means may legitimately leave some clusters empty)
    val clusterDirs = new java.io.File(s"$dir/vectors").listFiles()
      .count(_.getName.startsWith("cluster="))
    assert(clusterDirs > 1 && clusterDirs <= nc)
  }

  test("recall floors hold at a second (explicit) cluster count") {
    // the auto default is √n ≈ 22 on the fixture; prove the floors are a
    // property of the probe FRACTION, not of one tuned constant, by
    // running the same operating point at nClusters=8 (nProbe=3 = ⌈3/8·8⌉)
    val exact = graft.operators.VectorSearch.knnSearch(spark, sf)
      .select(col("query_id"), col("id"))
    val approx = AnnSearch.ivfKnn(spark, sf, nClusters = 8)
      .select(col("query_id"), col("id"))
    val nQ = exact.select("query_id").distinct().count()
    val hits = exact.join(approx, Seq("query_id", "id"), "left_semi").count()
    val recall = hits.toDouble / (nQ * 10)
    assert(recall >= 0.6, s"ivf recall $recall at nClusters=8")
  }

  tempDirTest("appendToIvfIndex adds a batch O(batch) into a " +
      "committed version") { newDir =>
    val out = newDir("graft_ivf_append").toString
    val batch = Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + 20000).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + 0.01)").as("v"))
    AnnSearch.appendToIvfIndex(spark, sf, batch, out)
    // commit protocol: the manifest is written LAST and gates the version
    assert(IndexStore.committed(s"$out/segment"))
    assert(IndexStore.committed(s"$out/manifest"))
    val nc = AnnSearch.autoClusters(
      Tables.load(spark, sf, "embeddings").count())
    val dir = IndexStore.indexDir(sf, s"ivf$nc-v1", "embeddings")
    val oldN = spark.read.parquet(s"$dir/vectors").count()
    val merged = AnnSearch.ivfVectors(spark, out)
    assert(merged.count() == oldN + batch.count())
    // O(batch) I/O: the version's OWN segment holds only the batch; the
    // base corpus enters by manifest reference, never by copy
    assert(spark.read.parquet(s"$out/segment").count() == batch.count())
    assert(IndexStore.readManifest(spark, out)
      .exists(e => e._1 == "vectors" && e._2 == s"$dir/vectors"))
    // replayed invocation on a committed version is a no-op, never a
    // double-append
    AnnSearch.appendToIvfIndex(spark, sf, batch, out)
    assert(AnnSearch.ivfVectors(spark, out).count() ==
      oldN + batch.count())
    // every appended vector landed in its nearest EXISTING centroid's
    // partition (no refit — the add semantics of main.py:134 on IVF)
    val centers = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getAs[Int]("cluster") ->
        r.getSeq[Double](r.fieldIndex("center"))).toMap
    merged.filter(col("vec_id") >= 20000).limit(20).collect().foreach { r =>
      val v = r.getSeq[Double](r.fieldIndex("v"))
      val best = centers.minBy { case (_, c) =>
        c.zip(v).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
      }._1
      assert(r.getAs[Int]("cluster") == best)
    }
  }

  test("IVF+SQ8 probe prunes partitions and scans quantized rows") {
    import graft.operators.AnnSearch
    val res = AnnSearch.ivfSqKnn(spark, sf)
    assert(res.count() > 0)
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).nonEmpty,
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // the probed scan reads the QUANTIZED store (tinyint qv + scale),
    // not the full-precision table
    val nc = AnnSearch.autoClusters(
      Tables.load(spark, sf, "embeddings").count())
    assert(plan.contains(s"ivfsq$nc-v2"))
  }

  test("SQ8 quantized search equals the exact kNN after rescoring") {
    import graft.operators.{Quantize, VectorSearch}
    val exact = VectorSearch.knnSearch(spark, sf).collect().map(_.toSeq)
    val sq = Quantize.sqKnn(spark, sf).collect().map(_.toSeq)
    assert(sq.toSeq == exact.toSeq)
    // the quantized plan must read the PERSISTED SQ8 table, not recompute
    val plan = Quantize.sqKnn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index_"))
  }

  test("SQ8 reconstruction error is within the half-step bound") {
    import graft.operators.{Quantize, VectorSearch}
    val normed = VectorSearch.normalized(spark, sf)
    val err = Quantize.quantize(normed)
      .join(normed, "vec_id")
      .select(expr(
        """aggregate(zip_with(v, qv, (x, q) ->
          |  abs(x - CAST(q AS DOUBLE) / scale)),
          |  0D, (acc, e) -> greatest(acc, e)) AS maxerr""".stripMargin),
        (lit(0.5) / col("scale")).as("bound"))
      .collect()
    // |x - q/scale| <= 0.5/scale per element by HALF_UP rounding
    err.foreach(r => assert(
      r.getAs[Double]("maxerr") <= r.getAs[Double]("bound") + 1e-12))
  }

  test("typed CentroidAgg matches the explode+avg centroids") {
    val emb = Tables.load(spark, sf, "embeddings")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val typed = emb.select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new CentroidAgg(dim).toColumn)
      .collect().toMap
    val exploded = VectorAnalytics.centroids(spark, sf).collect()
      .groupBy(_.getAs[Long]("label"))
    exploded.foreach { case (label, rows) =>
      val want = rows.sortBy(_.getAs[Long]("idx"))
        .map(_.getAs[Double]("centroid_val"))
      val got = typed(label.toInt)
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-5)
      }
    }
  }

  test("recall curve is monotone in cost and exact at full probe") {
    val rows = AnnSearch.annRecallCurve(spark, sf).collect()
    val byMethod = rows.groupBy(_.getString(0))
    assert(byMethod.keySet == Set("ivf", "ivf_sq", "pq", "graph"))
    // expected point counts DERIVED from the same formulas the operator
    // uses — on a tiny corpus the probe points can legitimately collapse
    // (autoProbe(nc) can equal nc/8), and the spec must degrade with them
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    val expIvf =
      Seq(math.max(1, nc / 8), AnnSearch.autoProbe(nc), nc).distinct.size
    val expPq = Seq(10, 40, 120).distinct.size
    val gHops = graft.operators.GraphAnn.autoHops(n,
      graft.operators.GraphAnn.autoDegree(n))
    val expGraph = (Seq(1, 2) ++ Seq(gHops)).distinct.count(_ <= gHops)
    // monotone BY CONSTRUCTION (superset candidates), so exact >= holds
    // deterministically, not just in expectation — in recall AND in the
    // measured row cost
    byMethod.foreach { case (m, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val recalls = sorted.map(_.getDouble(2))
      val expPts = m match {
        case "pq" => expPq
        case "graph" => expGraph
        case _ => expIvf
      }
      assert(recalls.length == expPts, m)
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        s"$m recall not monotone: ${recalls.mkString(",")}")
      val costs = sorted.map(_.getLong(3))
      assert(costs.forall(_ > 0), s"$m has a zero-cost point")
      assert(costs.zip(costs.tail).forall { case (a, b) => a <= b },
        s"$m cost_rows not monotone: ${costs.mkString(",")}")
    }
    // probing every cluster IS the exact search: recall must be 1.0 at a
    // measured price of every stored row per query
    Seq("ivf", "ivf_sq").foreach { m =>
      val full = byMethod(m).maxBy(_.getLong(1))
      assert(full.getDouble(2) == 1.0, m)
      assert(full.getLong(3) == 10L * n, m)
    }
  }

  test("non-saturated probe gate: both flagship legs hold their recall " +
      "floors below saturation") {
    assert(AnnSearch.hybridProbeViolations(spark, sf).collect().isEmpty)
  }

  test("non-saturated GRAPH beam gate: both graph-backed legs hold " +
      "their recall floors below saturation") {
    assert(graft.operators.GraphAnn.graphProbeViolations(spark, sf)
      .collect().isEmpty)
  }

  test("knn-graph build persists a bucketed, manifested, degree-bounded " +
      "version") {
    import graft.operators.GraphAnn
    val n = Tables.load(spark, sf, "embeddings").count()
    val deg = GraphAnn.autoDegree(n)
    val dir = GraphAnn.buildGraphIndex(spark, sf)
    assert(dir == IndexStore.indexDir(sf, s"knngraph$deg-v4", "embeddings"))
    // the manifest is written LAST — it is the whole-version commit marker
    assert(IndexStore.committed(s"$dir/manifest"))
    // segments are hive-partitioned by bucket so the hop join's probe
    // side can prune at the file source (the IVF DPP pattern)
    val bucketDirs = new java.io.File(s"$dir/seg/base/vectors")
      .listFiles().count(_.getName.startsWith("bucket="))
    assert(bucketDirs >= 1)
    // bounded degree (the HNSW M contract) and full node coverage
    val g = GraphAnn.resolvedGraph(spark, dir)
    val stats = g.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max(col("d")), countDistinct(col("src"))).head
    assert(stats.getLong(0) <= deg,
      s"degree ${stats.getLong(0)} > $deg")
    assert(stats.getLong(1) == n, s"coverage ${stats.getLong(1)} != $n")
  }

  tempDirTest("knn-graph append is O(batch) by manifest reference and " +
      "replay-idempotent") { newDir =>
    import graft.operators.{AnnSearch, GraphAnn}
    val out = newDir("graft_graph_append").toString
    // a SMALL batch (under the doubling point) exercises the beam-link
    // side of the append regime switch — batch ids start at the corpus
    // size (appendBatch's collision-free shift)
    val n = Tables.load(spark, sf, "embeddings").count()
    val batch = AnnSearch.appendBatch(spark, sf)
      .filter(col("vec_id") < n + 100)
    assert(!GraphAnn.appendRebuilds(n, batch.count()))
    GraphAnn.appendToGraphIndex(spark, sf, batch, out)
    assert(IndexStore.committed(s"$out/manifest"))
    // O(batch) I/O: the version's OWN vector segment holds only the
    // batch; the base corpus and base graph enter by manifest reference,
    // never by copy
    assert(spark.read.parquet(s"$out/seg/app/vectors").count() ==
      batch.count())
    val man = IndexStore.readManifest(spark, out)
    assert(man.exists(e => e._1 == "vectors" && !e._2.startsWith(out)))
    assert(man.exists(e => e._1 == "graph" && !e._2.startsWith(out)))
    // every appended node got forward edges in the delta segment
    val delta = spark.read.parquet(s"$out/seg/app/graph")
    val newCovered = delta.select(col("src")).distinct()
      .filter(col("src") >= n).count()
    assert(newCovered == batch.count())
    val edges = delta.count()
    // replayed invocation on a committed version is a no-op
    GraphAnn.appendToGraphIndex(spark, sf, batch, out)
    assert(spark.read.parquet(s"$out/seg/app/graph").count() == edges)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
  }

  tempDirTest("a doubling-point append rebuilds: self-contained version, " +
      "full coverage, 2-deg bound") { newDir =>
    import graft.operators.{AnnSearch, GraphAnn}
    val out = newDir("graft_graph_rebuild").toString
    val n = Tables.load(spark, sf, "embeddings").count()
    val deg = GraphAnn.autoDegree(n)
    // the full growth batch (= corpus) is AT the doubling point: the
    // beam path would materialize batch × explored visited rows
    // (measured 1.7 B rows at the 100× ladder), so the switch must take
    // the NN-descent rebuild instead
    val batch = AnnSearch.appendBatch(spark, sf)
    assert(GraphAnn.appendRebuilds(n, batch.count()))
    GraphAnn.appendToGraphIndex(spark, sf, batch, out)
    // self-contained: the manifest references NOTHING older, so the
    // chain's segment count resets and retention can vacuum every
    // predecessor
    val man = IndexStore.readManifest(spark, out)
    assert(man.forall(_._2.startsWith(out)))
    // complete: base ∪ batch, every node with adjacency, bounded by the
    // full build's bidirectional 2·deg (HNSW maxM0)
    val vecs = IndexStore.loadSegments(spark, out, "vectors")
    assert(vecs.select("vec_id").distinct().count() == 2 * n)
    val g = IndexStore.loadSegments(spark, out, "graph")
      .select(col("src"), col("dst")).dropDuplicates("src", "dst")
    assert(vecs.select(col("vec_id").as("src")).distinct()
      .join(g.select("src").distinct(), Seq("src"), "left_anti")
      .count() == 0)
    assert(g.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head.getLong(0) <= 2 * deg)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
  }

  test("knn-graph append yields a complete, searchable next version") {
    assert(graft.operators.GraphAnn.graphAppendViolations(spark, sf)
      .collect().isEmpty)
  }

  test("knn-graph refit gate: the re-descended grown corpus keeps " +
      "completeness, coverage and recall") {
    assert(graft.operators.GraphAnn.graphRefitViolations(spark, sf)
      .collect().isEmpty)
  }

  test("knn-graph delete gate: masked exclusion, compacted live set, " +
      "bridge-repaired recall all hold") {
    assert(graft.operators.GraphAnn.graphDeleteViolations(spark, sf)
      .collect().isEmpty)
  }

  tempDirTest("knn-graph append chain auto-compacts at the segment bound: a " +
      "12-batch chain never exceeds DefaultMaxSegments and stays " +
      "complete and navigable") { newDir =>
    // the round-7 flat/IVF in-chain compaction discipline, applied to
    // the graph family (r12 VERDICT #1): without the maxSegments fold,
    // every append re-references the base segments and a long streamed
    // ingest grows merge-on-read unboundedly
    import graft.operators.GraphAnn
    val base = GraphAnn.buildGraphIndex(spark, sf)
    val root = newDir("graft_graph_chain").toString
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val n = emb.count()
    val batchSize = 8L
    var prev = base
    var compacted = 0
    val bound = IndexStore.DefaultMaxSegments
    for (i <- 0 until 12) {
      // brand-new ids far above every other fixture injection
      val batch = emb.filter(col("vec_id") < batchSize)
        .select((col("vec_id") + lit(100000L + i * 1000L)).as("vec_id"),
          transform(col("v"), x => x + lit(0.001 * (i + 1))).as("v"))
      val out = s"$root/v$i"
      GraphAnn.appendToGraphIndexAt(spark, prev, batch, out)
      val man = IndexStore.readManifest(spark, out)
      val gsegs = man.count(_._1 == "graph")
      assert(gsegs <= bound,
        s"version $i holds $gsegs graph segments > bound $bound")
      if (gsegs == 1) {
        compacted += 1
        // a compacted version is self-contained: its manifest references
        // nothing older, so retention can vacuum every predecessor
        assert(man.forall(_._2.startsWith(out)),
          s"compacted version $i still references older segments")
      }
      prev = out
    }
    assert(compacted >= 1,
      "a 12-batch chain at bound 8 must have compacted at least once")
    // the final version is complete (base + all 12 batches) ...
    val finalVecs = IndexStore.loadSegments(spark, prev, "vectors")
      .select("vec_id").distinct().count()
    assert(finalVecs == n + 12 * batchSize,
      s"final count $finalVecs != ${n + 12 * batchSize}")
    // ... and navigable THROUGH the compaction: querying with the exact
    // vector of a node appended after the compaction point must find it
    // at distance 0, and every fixture query still gets k rows
    val probe = emb.filter(col("vec_id") === 0L)
      .select(lit(-1L).as("query_id"),
        graft.functions.VectorOps.l2Normalize(
          transform(col("v"), x => x + lit(0.001 * 12))).as("qu"))
    val hit = GraphAnn.graphSearchAt(spark, prev, probe, 1,
      GraphAnn.DefaultEf, GraphAnn.autoHops(finalVecs, 32)).head
    assert(hit.getAs[Long]("id") == 100000L + 11L * 1000L,
      s"nearest to batch-11 vector was ${hit.getAs[Long]("id")}")
    assert(hit.getAs[Double]("distance") == 0.0)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
  }

  test("IVF append yields a complete, searchable next version") {
    assert(AnnSearch.ivfAppendViolations(spark, sf).collect().isEmpty)
  }

  tempDirTest("IVF compaction produces an equivalent plain-layout base") {
    newDir =>
    val out = newDir("graft_ivf_precompact").toString
    val batch = Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + 20000).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + 0.01)").as("v"))
    AnnSearch.appendToIvfIndex(spark, sf, batch, out)
    val comp = newDir("graft_ivf_compact").toString
    AnnSearch.compactIvfTo(spark, out, comp)
    // plain layout, committed (centroids last = the commit marker)
    assert(IndexStore.committed(s"$comp/vectors"))
    assert(IndexStore.committed(s"$comp/centroids"))
    // same rows, same per-cluster layout as the manifest chain resolves
    def byCluster(dir: String) =
      AnnSearch.ivfVectors(spark, dir).groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCluster(comp) == byCluster(out))
    // and it is itself a valid append base: chain another batch onto it
    val next = newDir("graft_ivf_postcompact").toString
    AnnSearch.appendToIvfIndexAt(spark, comp, batch, next)
    assert(AnnSearch.ivfVectors(spark, next).count() ==
      AnnSearch.ivfVectors(spark, comp).count() + batch.count())
  }

  tempDirTest("delete writes O(batch) tombstones, searches exclude them, " +
      "appends carry them forward, compaction drops them physically") {
    newDir =>
    def tmp(p: String) =
      newDir(p).toString
    val batch = Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + 20000).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + 0.01)").as("v"))
    val app = tmp("graft_ivf_del_app")
    AnnSearch.appendToIvfIndex(spark, sf, batch, app)
    val delIds = batch.select(col("vec_id"))
      .filter(col("vec_id") % 5 === 0)
    val deletedSet = delIds.collect().map(_.getLong(0)).toSet
    val del = tmp("graft_ivf_del_v1")
    AnnSearch.deleteFromIvfIndexAt(spark, app, delIds, del)
    // O(batch): the version's own artifact is ONE tombstone segment of
    // exactly the deleted ids; every vector segment is re-referenced
    assert(spark.read.parquet(s"$del/tombstones").count() ==
      deletedSet.size)
    assert(IndexStore.readManifest(spark, del)
      .filter(_._1 == "vectors").map(_._2)
      .forall(p => !p.startsWith(del)))
    // merge-on-read live view reconciles
    val nApp = AnnSearch.ivfVectors(spark, app).count()
    assert(AnnSearch.ivfLiveVectors(spark, del).count() ==
      nApp - deletedSet.size)
    // replay-idempotent: a second invocation is a no-op
    AnnSearch.deleteFromIvfIndexAt(spark, app, delIds, del)
    assert(AnnSearch.ivfLiveVectors(spark, del).count() ==
      nApp - deletedSet.size)
    // both probe strategies exclude tombstoned ids and stay bit-identical
    val queries = AnnSearch.fixtureQueries(spark, sf, 10)
    val np = AnnSearch.defaultProbe(spark, sf)
    val viaCollect = AnnSearch
      .searchIndexAt(spark, del, queries, 10, np, 10L)
      .collect().map(_.toSeq).toSeq
    val viaJoin = AnnSearch
      .searchIndexAt(spark, del, queries, 10, np, aboveJoinThreshold)
      .collect().map(_.toSeq).toSeq
    assert(viaCollect.nonEmpty && viaCollect == viaJoin)
    assert(viaCollect.forall(r =>
      !deletedSet.contains(r(1).asInstanceOf[Long])))
    // an append on TOP of the delete must not un-delete: tombstones ride
    // the new manifest and keep masking
    val batch2 = Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + 60000).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + 0.02)").as("v"))
    val next = tmp("graft_ivf_del_next")
    AnnSearch.appendToIvfIndexAt(spark, del, batch2, next)
    assert(AnnSearch.ivfLiveVectors(spark, next).count() ==
      nApp - deletedSet.size + batch2.count())
    assert(AnnSearch.ivfLiveVectors(spark, next)
      .join(delIds, Seq("vec_id"), "left_semi").count() == 0)
    // compaction resolves: live rows only on disk, tombstones retired —
    // and the compacted search equals the merge-on-read search exactly
    val comp = tmp("graft_ivf_del_comp")
    AnnSearch.compactIvfTo(spark, del, comp)
    assert(AnnSearch.ivfVectors(spark, comp).count() ==
      nApp - deletedSet.size)
    assert(AnnSearch.ivfLayout(spark, comp).tombstones.isEmpty)
    val viaCompacted = AnnSearch
      .searchIndexAt(spark, comp, queries, 10, np, 10L)
      .collect().map(_.toSeq).toSeq
    assert(viaCompacted == viaCollect)
  }

  test("delete gate: exclusion, live count, physical drop and recall " +
      "all hold") {
    assert(AnnSearch.ivfDeleteViolations(spark, sf).collect().isEmpty)
  }

  test("PQ codebook refit gate: re-trained codebooks keep completeness " +
      "and recall") {
    assert(AnnSearch.ivfPqRefitViolations(spark, sf).collect().isEmpty)
  }

  test("IVF+PQ delete gate: ADC exclusion, live count and recall hold") {
    assert(AnnSearch.ivfPqDeleteViolations(spark, sf).collect().isEmpty)
  }

  tempDirTest("IVF+PQ delete survives appends and the in-chain fold never " +
      "resurrects masked codes") { newDir =>
    def tmp(p: String) =
      newDir(p).toString
    def shifted(off: Long, d: Double) =
      Tables.load(spark, sf, "embeddings")
        .select((col("vec_id") + off).as("vec_id"),
          expr(s"transform(embedding, x -> cast(x as double) + $d)")
            .as("v"))
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    val nk = AnnSearch.pqCodebookSize(spark, sf)
    val base = graft.operators.AnnSearch
      .buildIvfPqIndex(spark, sf, nc, 8, nk)
    // append a batch, tombstone half of it, then append PAST the fold
    // bound (maxSegments = 2 forces the fold on the next append): the
    // folded single segment must hold live codes only
    val v1 = tmp("graft_pqdel_v1")
    AnnSearch.appendToIvfPqIndexAt(spark, base, shifted(70000, 0.01),
      v1, 8, nk)
    val delIds = shifted(70000, 0.01).select(col("vec_id"))
      .filter(col("vec_id") % 2 === 0)
    val nDel = delIds.count()
    val v2 = tmp("graft_pqdel_v2")
    AnnSearch.deleteFromIvfPqIndexAt(spark, v1, delIds, v2)
    // append on top of the delete: tombstones must ride the manifest
    val v3 = tmp("graft_pqdel_v3")
    AnnSearch.appendToIvfPqIndexAt(spark, v2, shifted(80000, 0.02),
      v3, 8, nk, maxSegments = 8)
    assert(AnnSearch.ivfLayout(spark, v3).tombstones.nonEmpty)
    // fold trigger: chain has 3 code segments; maxSegments = 2 folds
    val v4 = tmp("graft_pqdel_v4")
    AnnSearch.appendToIvfPqIndexAt(spark, v3, shifted(90000, 0.03),
      v4, 8, nk, maxSegments = 2)
    // folded: one code segment, tombstones retired, masked codes gone
    assert(AnnSearch.ivfLayout(spark, v4, "codes").segments.size == 1)
    assert(AnnSearch.ivfLayout(spark, v4).tombstones.isEmpty)
    val codes = graft.sources.IndexStore
      .readUnion(spark, AnnSearch.ivfLayout(spark, v4, "codes").segments)
    assert(codes.count() == 4 * n - nDel)
    assert(codes.join(delIds, Seq("vec_id"), "left_semi").count() == 0)
  }

  test("hybrid ANN equals the exact hybrid at fixture scale; the IVF " +
      "leg holds a recall floor when the probe is NOT saturated") {
    import graft.operators.TfIdf
    // the saturated probe makes the vector leg exact, so the IVF-riding
    // entry is bit-identical to the exact-scan entry (the shared-oracle
    // property)
    val want = TfIdf.hybridSearchRrf(spark, sf).collect().map(_.toSeq).toSeq
    val got = TfIdf.hybridSearchAnn(spark, sf).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // and saturation genuinely engaged (perLeg=50 of a 500-doc corpus)
    val n = Tables.load(spark, sf, "documents").count()
    val nc = AnnSearch.autoClusters(n)
    assert(AnnSearch.hybridVecProbe(nc, 50, n) == nc)
    // …but NOT at corpus scale: the same rule at 100×-the-corpus probes
    // the default fraction (the genuinely-approximate regime)
    assert(AnnSearch.hybridVecProbe(nc, 50, n * 100) ==
      AnnSearch.autoProbe(nc))
    // recall floor for that regime, measured on the fixture: the leg at
    // the default probe fraction vs the saturated (exact) leg
    val dir = AnnSearch.loadOrBuildDocIvf(spark, sf)
    val q = TfIdf.hybridQueryVec(spark, sf)
    def ids(np: Int): Set[Long] =
      AnnSearch.searchIndexAt(spark, dir, q, 50, np, expectedQ = 1L)
        .select("id").collect().map(_.getLong(0)).toSet
    val exactLeg = ids(nc)
    val probedLeg = ids(AnnSearch.autoProbe(nc))
    val recall = exactLeg.intersect(probedLeg).size.toDouble / exactLeg.size
    assert(recall >= 0.6, s"hybrid vec-leg recall@50 = $recall")
  }

  test("MMR over the IVF pool equals the exact MMR at fixture scale") {
    // saturated probe (C=50 of a 500-vector corpus) ⇒ the IVF candidate
    // pool IS the exact top-C relevance pool, and the shared greedy tail
    // makes the index-backed entry bit-identical to mmr_rerank — the
    // property that lets mmr_rerank_ann share the DuckDB oracle verbatim
    val want = graft.operators.VectorSearch.mmrRerank(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = AnnSearch.mmrRerankAnn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // saturation genuinely engaged at fixture scale, not at corpus scale
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    assert(AnnSearch.hybridVecProbe(nc, 50, n) == nc)
    assert(AnnSearch.hybridVecProbe(nc, 50, n * 100) ==
      AnnSearch.autoProbe(nc))
  }

  test("hybrid GRAPH equals the exact hybrid at fixture scale") {
    import graft.operators.TfIdf
    // the saturated beam (perLeg·12 ≥ n ⇒ ef widens to n) makes the
    // graph vector leg exact, so the graph-riding entry is
    // bit-identical to the exact-scan entry — the shared-oracle
    // property, third index family through the one rrfFuse tail
    val want = TfIdf.hybridSearchRrf(spark, sf).collect().map(_.toSeq).toSeq
    val got = TfIdf.hybridSearchGraph(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("MMR over the graph pool equals the exact MMR at fixture scale") {
    // the graph-backed diversify leg: saturated beam (ef widens to n
    // when C·12 >= n) ⇒ every reachable node visited ⇒ the pool IS the
    // exact top-C relevance pool, and the shared greedy tail makes the
    // entry bit-identical to mmr_rerank — the property that lets
    // mmr_rerank_graph share the DuckDB oracle verbatim
    val want = graft.operators.VectorSearch.mmrRerank(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = graft.operators.GraphAnn.mmrRerankGraph(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  tempDirTest("IVF append auto-compacts once the segment chain passes " +
      "the bound") { newDir =>
    def tmp(p: String) =
      newDir(p).toString
    def shifted(off: Long, d: Double) =
      Tables.load(spark, sf, "embeddings")
        .select((col("vec_id") + off).as("vec_id"),
          expr(s"transform(embedding, x -> cast(x as double) + $d)")
            .as("v"))
    val base = AnnSearch.ensureIvfIndex(spark, sf)
    val v1 = tmp("graft_ivf_auto_v1")
    val v2 = tmp("graft_ivf_auto_v2")
    // base(1 segment) + batch → 2 ≤ 2: still a delta append
    AnnSearch.appendToIvfIndexAt(spark, base, shifted(50000L, 0.01), v1,
      maxSegments = 2)
    assert(IndexStore.readManifest(spark, v1).count(_._1 == "vectors") == 2)
    // 2 + 1 > 2: the policy folds chain + batch into ONE fresh segment
    AnnSearch.appendToIvfIndexAt(spark, v1, shifted(60000L, 0.02), v2,
      maxSegments = 2)
    assert(IndexStore.readManifest(spark, v2).count(_._1 == "vectors") == 1)
    // byte-identical reads vs the never-compacted control chain: same
    // rows, same vectors, same per-cluster layout
    val ctl = tmp("graft_ivf_auto_ctl")
    AnnSearch.appendToIvfIndexAt(spark, v1, shifted(60000L, 0.02), ctl)
    assert(IndexStore.readManifest(spark, ctl).count(_._1 == "vectors") == 3)
    def resolved(dir: String) =
      AnnSearch.ivfVectors(spark, dir)
        .select(col("vec_id"), col("cluster"), col("v"))
        .orderBy("vec_id", "cluster").collect().map(_.toSeq).toSeq
    assert(resolved(v2).nonEmpty && resolved(v2) == resolved(ctl))
    // and the compacted version is fewer files on disk (the point)
    def nFiles(dir: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(IndexStore.hadoopConf)
      val segs = IndexStore.manifestSegments(
        IndexStore.readManifest(spark, dir), "vectors")
      segs.map { s =>
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s), true)
        var n = 0
        while (it.hasNext) { it.next(); n += 1 }
        n
      }.sum
    }
    assert(nFiles(v2) < nFiles(ctl))
  }

  test("joined-probe IVF is bit-identical to the collect probe and " +
      "plans dynamic partition pruning") {
    // the auto-switch's high-Q strategy, forced at fixture scale: same
    // probe window, same distance, same ranking tail → bit-identical
    val want = AnnSearch.ivfKnn(spark, sf).collect().map(_.toSeq).toSeq
    val queries = AnnSearch.fixtureQueries(spark, sf, 10)
    val np = AnnSearch.defaultProbe(spark, sf)
    val joined = AnnSearch.searchIndexAt(spark,
      AnnSearch.ensureIvfIndex(spark, sf), queries, 10, np,
      aboveJoinThreshold)
    val got = joined.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // no probe collect: pruning must come from a DPP subquery on the
    // cluster-partitioned scan, not from isin literals
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      plan.linesIterator.filter(_.contains("PartitionFilters"))
        .mkString("\n"))
    // and the SQ8 layout takes the same switch (exact-rescore tail makes
    // it bit-identical too)
    val wantSq = AnnSearch.ivfSqKnn(spark, sf).collect().map(_.toSeq).toSeq
    val normed = AnnSearch.normalizedCorpus(spark, sf)
    val gotSq = AnnSearch.ivfSqSearchAt(spark,
        AnnSearch.buildIvfSqIndex(spark, sf), queries, normed, 10, np, 40,
        aboveJoinThreshold)
      .collect().map(_.toSeq).toSeq
    assert(gotSq.nonEmpty && gotSq == wantSq)
    // and the PQ layout: the probe side additionally carries the ADC
    // LUTs, which must not perturb the switch or the result
    val wantPq = AnnSearch.ivfPqKnn(spark, sf).collect().map(_.toSeq).toSeq
    val gotPq = AnnSearch.ivfPqSearchAt(spark,
        AnnSearch.buildIvfPqIndex(spark, sf), queries, normed, 10, np,
        graft.operators.Quantize.resolveM(spark, sf, 0),
        AnnSearch.pqCodebookSize(spark, sf), 40, aboveJoinThreshold)
      .collect().map(_.toSeq).toSeq
    assert(gotPq.nonEmpty && gotPq == wantPq)
  }

  test("probe broadcast drops to a shuffle join above the byte limit, " +
      "bit-identically") {
    // an expectedQ large enough that Q·nprobe·d·8 exceeds the 1 GiB
    // staging ceiling: the probe side must lose its broadcast HINT —
    // the planner is then free to pick by size (it would re-broadcast a
    // genuinely tiny probe, and must not be able to broadcast a huge
    // one). Observable: with cost-based auto-broadcast disabled, the
    // hinted plan still forces BroadcastHashJoin, the unhinted one
    // shuffles. Rows stay identical either way.
    val want = AnnSearch.ivfKnn(spark, sf).collect().map(_.toSeq).toSeq
    def ivfAt(expectedQ: Long) = AnnSearch.searchIndexAt(spark,
      AnnSearch.ensureIvfIndex(spark, sf),
      AnnSearch.fixtureQueries(spark, sf, 10), 10,
      AnnSearch.defaultProbe(spark, sf), expectedQ)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val big = ivfAt(AnnSearch.BroadcastProbeByteLimit)
      assert(big.collect().map(_.toSeq).toSeq == want)
      val joins = big.queryExecution.sparkPlan.toString.linesIterator
        .filter(l => l.contains("Join") && l.contains("cluster"))
        .mkString("\n")
      assert(joins.nonEmpty && !joins.contains("BroadcastHashJoin"), joins)
      // below the limit the hint stays: probe→vectors join is still a
      // forced broadcast even with auto-broadcast off
      val small = ivfAt(aboveJoinThreshold)
      assert(small.collect().map(_.toSeq).toSeq == want)
      val sJoins = small.queryExecution.sparkPlan.toString.linesIterator
        .filter(l => l.contains("Join") && l.contains("cluster"))
        .mkString("\n")
      assert(sJoins.contains("BroadcastHashJoin"), sJoins)
    } finally spark.conf.set(key, prev)
  }

  tempDirTest("IVF+PQ append auto-compacts once the code-segment " +
      "chain passes the bound") { newDir =>
    def tmp(p: String) =
      newDir(p).toString
    def shifted(off: Long, d: Double) =
      Tables.load(spark, sf, "embeddings")
        .select((col("vec_id") + off).as("vec_id"),
          expr(s"transform(embedding, x -> cast(x as double) + $d)")
            .as("v"))
    val nk = AnnSearch.pqCodebookSize(spark, sf)
    val base = AnnSearch.buildIvfPqIndex(spark, sf)
    val v1 = tmp("graft_ivfpq_auto_v1")
    val v2 = tmp("graft_ivfpq_auto_v2")
    // base(1 segment) + batch → 2 ≤ 2: still a delta append
    AnnSearch.appendToIvfPqIndexAt(spark, base, shifted(50000L, 0.01), v1,
      8, nk, maxSegments = 2)
    assert(IndexStore.readManifest(spark, v1).count(_._1 == "codes") == 2)
    // 2 + 1 > 2: the policy folds chain + batch into ONE fresh segment
    AnnSearch.appendToIvfPqIndexAt(spark, v1, shifted(60000L, 0.02), v2,
      8, nk, maxSegments = 2)
    assert(IndexStore.readManifest(spark, v2).count(_._1 == "codes") == 1)
    // identical resolved reads vs the never-compacted control chain
    val ctl = tmp("graft_ivfpq_auto_ctl")
    AnnSearch.appendToIvfPqIndexAt(spark, v1, shifted(60000L, 0.02), ctl,
      8, nk)
    assert(IndexStore.readManifest(spark, ctl).count(_._1 == "codes") == 3)
    def resolved(dir: String) =
      IndexStore.readUnion(spark,
        AnnSearch.ivfLayout(spark, dir, "codes").segments)
        .select(col("vec_id"), col("cluster"), col("codes"))
        .orderBy("vec_id", "cluster").collect().map(_.toSeq).toSeq
    assert(resolved(v2).nonEmpty && resolved(v2) == resolved(ctl))
  }

  test("IVF+PQ append gate: frozen-codebook encode yields a complete, " +
      "well-formed, searchable next version") {
    val viols = AnnSearch.ivfPqAppendViolations(spark, sf)
    assert(viols.collect().isEmpty, viols.collect().mkString(", "))
  }

  test("refit gate: re-clustering the appended corpus keeps completeness" +
      " and recall") {
    val viols = AnnSearch.ivfRefitViolations(spark, sf)
    assert(viols.collect().isEmpty, viols.collect().mkString(", "))
  }

  tempDirTest("joined probe searches a MANIFESTED (appended) version " +
      "identically to the collect probe") { newDir =>
    // segments resolve per-branch under the join (union ABOVE the join,
    // so DPP attaches to each partitioned scan); results must match the
    // collect path over the same appended version
    val out = newDir("graft_ivf_joinprobe").toString
    val batch = Tables.load(spark, sf, "embeddings")
      .select((col("vec_id") + 20000).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + 0.01)").as("v"))
    AnnSearch.appendToIvfIndex(spark, sf, batch, out)
    val queries = AnnSearch.fixtureQueries(spark, sf, 10)
    val np = AnnSearch.defaultProbe(spark, sf)
    val got = AnnSearch
      .searchIndexAt(spark, out, queries, 10, np, aboveJoinThreshold)
      .collect().map(_.toSeq).toSeq
    val want = AnnSearch.searchIndexAt(spark, out, queries, 10, np, 10L)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("filtered ANN pushes the predicate INSIDE the probed partition " +
      "scan and saturates to the exact filtered k-NN") {
    val res = AnnSearch.ivfFilteredKnn(spark, sf)
    val got = res.collect().map(_.toSeq).toSeq
    // over-probe saturation: 10 labels → sel ≈ 0.1, nprobe/sel ≥ nc, so
    // the probe covers every cluster and the result IS the exact
    // filtered k-NN (the oracle both entries share)
    val n = Tables.load(spark, sf, "embeddings").count()
    val nc = AnnSearch.autoClusters(n)
    assert(AnnSearch.filteredProbe(AnnSearch.autoProbe(nc), nc, 0.1) == nc)
    // a genuinely selective probe does NOT saturate (the 100 TB regime)
    assert(AnnSearch.filteredProbe(4, 100000, 0.1) == 40)
    val want = graft.operators.VectorSearch.knnSearchFiltered(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // plan shape: ONE scan carries BOTH the partition prune (cluster
    // isin literals) and the pushed metadata predicate (label = 1) —
    // filtering at the row-group level of only the probed partitions
    val scanLines = res.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l =>
      "PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(l).nonEmpty &&
        "PushedFilters: \\[[^\\]]*EqualTo\\(label,1\\)".r
          .findFirstIn(l).nonEmpty), scanLines.mkString("\n"))
    // the high-Q joined strategy returns identical rows
    val joined = AnnSearch.ivfFilteredSearchAt(spark,
      AnnSearch.loadOrBuildFilteredIvf(spark, sf, nc),
      AnnSearch.fixtureQueries(spark, sf, 10), 1, 10,
      AnnSearch.filteredProbe(AnnSearch.autoProbe(nc), nc,
        AnnSearch.labelSelectivity(spark, sf, 1)),
      aboveJoinThreshold)
    assert(joined.collect().map(_.toSeq).toSeq == want)
    // and the pure-SQL twin is bit-identical too, with the predicate
    // pushed into the same DPP-pruned scan
    val sql = AnnSearch.sqlAnnFiltered(spark, sf)
    assert(sql.collect().map(_.toSeq).toSeq == want)
    val sqlPlan = sql.queryExecution.executedPlan.toString
    assert(sqlPlan.toLowerCase.contains("dynamicpruning"))
    assert(sqlPlan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(label,1)")),
      sqlPlan.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n"))
  }

  test("filtered graph search: the selectivity-widened beam saturates " +
      "to the exact filtered k-NN, matching rank only") {
    import graft.operators.GraphAnn
    val res = GraphAnn.graphKnnFiltered(spark, sf)
    val got = res.collect().map(_.toSeq).toSeq
    // saturation: ~10 labels → sel ≈ 0.1, ef/sel = 640 ≥ n = 500, so
    // the beam holds every reachable node and the ranking over the
    // matching slice IS the exact filtered k-NN — the same
    // saturation-exactness property ann_filtered's over-probe uses,
    // and what lets the entry share DuckKnnFilteredOracle
    val want = graft.operators.VectorSearch.knnSearchFiltered(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // no result row may carry a non-matching label (the predicate is a
    // ranking exclusion, not a traversal exclusion)
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      assert(labels(r(1).asInstanceOf[Long]) == 1, r)
    }
    // a genuinely selective predicate at corpus scale does NOT
    // saturate: the widened beam stays bounded by n but grows 1/sel —
    // the approximate regime whose graph_filtered floor rides in
    // ann_recall_violations
    assert(math.ceil(GraphAnn.DefaultEf / 0.001).toLong < 10000000L)
  }

  test("SQL-only graph beam search is bit-identical to the " +
      "programmatic path") {
    import graft.operators.GraphAnn
    // same hop count, beam width, tie-breaks and distance expression →
    // identical rows (the operator's convergence early-exit changes
    // nothing: a converged beam's later hops expand only visited nodes)
    val got = GraphAnn.sqlAnnGraph(spark, sf).collect().map(_.toSeq).toSeq
    val want = GraphAnn.graphKnn(spark, sf).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("SQL-only IVF probe equals the programmatic scale path") {
    val sql = AnnSearch.sqlAnnIvf(spark, sf)
    val got = sql.collect().map(_.toSeq).toSeq
    val want = AnnSearch.ivfKnn(spark, sf).collect().map(_.toSeq).toSeq
    // same distance expression, same tie-breaking → bit-identical rows,
    // so the SQL surface inherits the ivf recall gates transitively
    assert(got.nonEmpty && got == want)
    // and the partition-column join keeps FILE-level pruning: the
    // broadcast probe side drives dynamic partition pruning into the
    // cluster-partitioned scan
    val plan = sql.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      plan.linesIterator.filter(_.contains("PartitionFilters"))
        .mkString("\n"))
  }

  test("cached beam trace serves the graph query entries bit-identical " +
      "to the live path, one search per (dir, queries, ef, hops)") {
    import graft.operators.GraphAnn
    val dir = GraphAnn.buildGraphIndex(spark, sf)
    val n = Tables.load(spark, sf, "embeddings").count()
    val ef = GraphAnn.autoEf(n)
    val hops = GraphAnn.autoHops(n, GraphAnn.autoDegree(n))
    def queries = AnnSearch.fixtureQueries(spark, sf, 10)
    // bit-identity: the cached path is searchTraceAt's output
    // checkpointed, with the tombstone mask + ranking tail applied
    // AFTER the cache — same rows as the live path by construction,
    // asserted here so a cache-layer change can never drift the entries
    val live = GraphAnn.graphSearchAt(spark, dir, queries, 10, ef, hops)
      .collect().map(_.toSeq).toSeq
    val cached = GraphAnn.graphSearchCached(spark, dir, queries, 10, ef,
      hops, "fixture:10").collect().map(_.toSeq).toSeq
    assert(cached.nonEmpty && cached == live)
    // cache identity: a second call with the same key re-reads the SAME
    // checkpointed frame (no second beam search)
    val t1 = GraphAnn.cachedTrace(spark, dir, queries, ef, hops,
      "fixture:10")
    val t2 = GraphAnn.cachedTrace(spark, dir, queries, ef, hops,
      "fixture:10")
    assert(t1 eq t2)
    // one trace serves any k <= ef: a smaller-k consumer ranks the same
    // cached frame (mmr pools and top-10 entries share one search when
    // their (ef, hops) coincide)
    val k5 = GraphAnn.graphSearchCached(spark, dir, queries, 5, ef, hops,
      "fixture:10").collect().map(_.toSeq).toSeq
    val live5 = GraphAnn.graphSearchAt(spark, dir, queries, 5, ef, hops)
      .collect().map(_.toSeq).toSeq
    assert(k5.nonEmpty && k5 == live5)
  }

  test("PQ subspace count scales with the vector width at fixed 8-dim " +
      "subspaces (d=64 -> m=8 keeps committed artifacts; d=2048 -> 256)") {
    import graft.operators.Quantize
    // the round-14 wide-vector ladder finding: fixed m=8 at d=2048 left
    // 256-dim subspaces and PQ recall collapsed to 0.31 vs the 0.4
    // floor; the d/8 rule holds the floor (SCALING.md round-14) while
    // deriving the SAME m=8 at the fixture width — no index rebuilds
    assert(Quantize.pqSubspaces(64) == 8)
    assert(Quantize.pqSubspaces(2048) == 256)
    assert(Quantize.pqSubspaces(8) == 1)
    assert(Quantize.pqSubspaces(4) == 1) // degenerate width still valid
    // the derived m must DIVIDE dim (buildPqOver requires it), so for
    // widths not a multiple of 8 the rule snaps down to the largest
    // divisor at or below dim/8 (ADVICE round 14: d=28 would otherwise
    // derive m=3 and throw)
    assert(Quantize.pqSubspaces(28) == 2)
    assert(Quantize.pqSubspaces(96) == 12)
    assert(Quantize.pqSubspaces(100) == 10) // 100/8=12 -> snap to 10
    for (d <- 1 to 512) assert(d % Quantize.pqSubspaces(d) == 0,
      s"pqSubspaces($d) must divide $d")
    assert(Quantize.resolveM(spark, sf, 0) == 8)  // fixture d=64
    assert(Quantize.resolveM(spark, sf, 16) == 16) // explicit wins
  }

  test("PQ operating-point sweep prices both widths off one ADC scan " +
      "each and the width gate passes (monotone rerank, default floor)") {
    import graft.operators.Quantize
    val pts = Quantize.pqOperatingPoints(spark, sf).collect()
    // fixture d=64 -> widths {d/16, d/8} = {4, 8}, x 3 rerank margins
    assert(pts.map(_.getInt(0)).distinct.sorted.toSeq == Seq(4, 8))
    assert(pts.length == 6)
    val n = graft.Tables.load(spark, sf, "embeddings").count()
    pts.foreach { r =>
      assert(r.getLong(3) == n * r.getInt(0), "code_bytes = n*m")
      assert(r.getLong(5) ==
        10L * math.min(r.getInt(1).toLong, n - 1), "rerank_rows")
    }
    // within-m recall is monotone non-decreasing in the margin (a larger
    // margin rescores a SUPERSET of candidates — deterministic, not
    // statistical) and the shipped default point holds the pq floor
    pts.groupBy(_.getInt(0)).values.foreach { g =>
      val byR = g.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(byR.zip(byR.tail).forall { case (a, b) => b >= a },
        s"recall not monotone in rerank: ${byR.toSeq}")
    }
    val dflt = pts.find(r => r.getInt(0) == 8 && r.getInt(1) == 40).get
    assert(dflt.getDouble(2) >= AnnSearch.DefaultRecallFloors("pq"))
    assert(Quantize.pqWidthViolations(spark, sf).collect().isEmpty)
  }

  tempDirTest("concurrent PQ subspace fits are bit-identical to a committed " +
      "sequential-era build (deterministic per-subspace seeds)") { newDir =>
    import graft.operators.{Quantize, VectorSearch}
    // the committed fixture index predates the round-14 concurrent
    // fits; a fresh build into a new dir must reproduce its codebooks
    // and codes exactly — the concurrency changes wall-clock only.
    // fitParOverride=8 forces the POOLED path (all 8 subspace fits
    // submitted concurrently) so the determinism claim is asserted on
    // the code that actually runs when SPARK_GRAFT_PQ_FIT_PAR is set,
    // not on a sequential-vs-sequential tautology (ADVICE round 14).
    val committedDir = Quantize.buildPqIndex(spark, sf)
    val fresh = newDir("graft_pq_par").toString
    graft.operators.Quantize.buildPqOver(spark,
      VectorSearch.normalized(spark, sf), 8,
      Quantize.resolveCodes(spark, sf, 0), fresh, fitParOverride = 8)
    def dump(dir: String, art: String) =
      spark.read.parquet(s"$dir/$art").orderBy("vec_id")
    val wantCodes = dump(committedDir, "codes").collect().map(_.toSeq)
    val gotCodes = dump(fresh, "codes").collect().map(_.toSeq)
    assert(gotCodes.nonEmpty && gotCodes.toSeq == wantCodes.toSeq)
    def books(dir: String) = spark.read.parquet(s"$dir/codebooks")
      .orderBy("subspace", "code").collect().map(_.toSeq)
    assert(books(fresh).toSeq == books(committedDir).toSeq)
  }

  test("gate cache: one proof per fixture fingerprint per session, " +
      "re-read afterwards with identical rows") {
    // the graded-suite discipline (Gates): heavy lifecycle gates compute
    // once per (session, fingerprint) and every later call re-reads the
    // checkpointed violations frame — same instance, same rows
    val g1 = graft.Gates.cached(spark, sf, "spec_gate_probe")(
      AnnSearch.annRecallViolations(spark, sf))
    val g2 = graft.Gates.cached(spark, sf, "spec_gate_probe")(
      AnnSearch.annRecallViolations(spark, sf))
    assert(g1 eq g2)
    assert(g1.count() == 0L)
    // a different gate name is a different key — never served the
    // other gate's frame
    val g3 = graft.Gates.cached(spark, sf, "spec_gate_probe_2")(
      AnnSearch.annRecallViolations(spark, sf))
    assert(!(g3 eq g1))
  }

  tempDirTest("NN-descent build determinism: a fresh build reproduces the " +
      "committed fixture graph bit-identically (dequantize-once kernel " +
      "== the original per-pair-divide kernel)") { newDir =>
    import graft.operators.{AnnSearch, GraphAnn}
    // the committed fixture index predates the round-15 kernel change
    // (dequantization hoisted out of the pair loop) and the width-aware
    // corpus pinning; a fresh build into a new dir must reproduce its
    // graph edges (src, dst, dist doubles), seeds and meta exactly —
    // the hoist runs the same IEEE divides once instead of deg times,
    // so every distance is the same double
    val committed = GraphAnn.buildGraphIndex(spark, sf)
    val fresh = newDir("graft_graph_det").toString
    GraphAnn.buildGraphOver(spark,
      AnnSearch.normalizedCorpus(spark, sf), fresh,
      GraphAnn.autoDegree(Tables.load(spark, sf, "embeddings").count()))
    def edges(dir: String) = spark.read
      .parquet(s"$dir/seg/base/graph")
      .select("src", "dst", "dist").orderBy("src", "dst")
      .collect().map(_.toSeq)
    val want = edges(committed)
    val got = edges(fresh)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
    def seeds(dir: String) = spark.read.parquet(s"$dir/seeds")
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(seeds(fresh).toSeq == seeds(committed).toSeq)
  }

  tempDirTest("gate cache eviction: an in-place fixture regeneration inside " +
      "one session frees the superseded checkpoint blocks") { newDir =>
    import org.apache.spark.sql.execution.LogicalRDD
    // stage a throwaway fixture dir: only the embeddings table matters
    // (it is the gate key's fingerprint source); the gate body is a
    // probe frame, since what is under test is the cache's lifecycle,
    // not any particular gate's semantics
    val tmp = newDir("graft_gate_evict").toString
    def stage(rows: Int): Unit =
      Tables.load(spark, sf, "embeddings").limit(rows)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def ckptRddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    stage(40)
    val g1 = graft.Gates.cached(spark, tmp, "evict_probe")(
      spark.range(10).toDF("n"))
    val id1 = ckptRddId(g1)
    assert(spark.sparkContext.getPersistentRDDs.contains(id1))
    // same fingerprint -> same frame, nothing released
    assert(graft.Gates.cached(spark, tmp, "evict_probe")(
      spark.range(10).toDF("n")) eq g1)
    // regenerate the fixture IN PLACE (different size -> different
    // source fingerprint): the next call must recompute AND release
    // the superseded frame's checkpoint blocks immediately — not wait
    // for the ContextCleaner (the round-13 storage-leak class)
    stage(80)
    val g2 = graft.Gates.cached(spark, tmp, "evict_probe")(
      spark.range(20).toDF("n"))
    assert(!(g2 eq g1))
    assert(g2.count() == 20L)
    assert(spark.sparkContext.getPersistentRDDs.contains(ckptRddId(g2)))
    assert(!spark.sparkContext.getPersistentRDDs.contains(id1),
      "superseded gate checkpoint must be unpersisted on eviction")
  }

  test("beam trace cache eviction: a regenerated index dir (same " +
      "artifact, new source fingerprint) frees the stale trace blocks") {
    import graft.operators.GraphAnn
    import org.apache.spark.sql.execution.LogicalRDD
    // two copies of the committed graph index under fake fingerprint
    // suffixes: same fingerprint-STRIPPED group, different dirs — the
    // shape a fixture regeneration produces (IndexStore.indexDir keys
    // the suffix on the source fingerprint)
    val real = GraphAnn.buildGraphIndex(spark, sf)
    val parent = java.nio.file.Paths.get(real).getParent
    def cloneAs(fp: String): String = {
      val dst = parent.resolve(
        java.nio.file.Paths.get(real).getFileName.toString
          .replaceAll("-[0-9a-f]{1,16}$", "") + "-" + fp)
      if (!java.nio.file.Files.exists(dst)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(real)).iterator()
          .asScala.toSeq.foreach { p =>
            val t = dst.resolve(java.nio.file.Paths.get(real).relativize(p))
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(t)
            else java.nio.file.Files.copy(p, t)
          }
      }
      dst.toString
    }
    val dirA = cloneAs("deadbeef00000001")
    val dirB = cloneAs("deadbeef00000002")
    assert(GraphAnn.fpStripped(dirA) == GraphAnn.fpStripped(dirB))
    val queries = AnnSearch.fixtureQueries(spark, sf, 3)
      .localCheckpoint(true)
    def ckptRddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    val t1 = GraphAnn.cachedTrace(spark, dirA, queries, 20, 4,
      "evict:3")
    val id1 = ckptRddId(t1)
    assert(spark.sparkContext.getPersistentRDDs.contains(id1))
    // same dir -> cache hit, same instance
    assert(GraphAnn.cachedTrace(spark, dirA, queries, 20, 4,
      "evict:3") eq t1)
    // "regenerated" dir -> same group, different fingerprint: must
    // recompute and free the stale trace's blocks
    val t2 = GraphAnn.cachedTrace(spark, dirB, queries, 20, 4,
      "evict:3")
    assert(!(t2 eq t1))
    assert(t2.count() > 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id1),
      "superseded beam trace checkpoint must be unpersisted on eviction")
    // a DIFFERENT group (other query set) does not evict: groups are
    // independent, so dirB's trace survives a miss elsewhere
    val tOther = GraphAnn.cachedTrace(spark, dirB, queries, 20, 4,
      "evict:other")
    assert(!(tOther eq t2))
    assert(GraphAnn.cachedTrace(spark, dirB, queries, 20, 4,
      "evict:3") eq t2)
  }

  test("beam search releases superseded per-hop checkpoints " +
      "(no storage-memory leak across a long-lived session)") {
    import graft.operators.{AnnSearch, GraphAnn}
    // warm everything that caches/builds OUTSIDE the measured window
    val dir = GraphAnn.buildGraphIndex(spark, sf)
    val n = Tables.load(spark, sf, "embeddings").count()
    val queries = AnnSearch.fixtureQueries(spark, sf, 5)
      .localCheckpoint(true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val trace = GraphAnn.searchTraceAt(spark, dir, queries,
      GraphAnn.autoEf(n), GraphAnn.autoHops(n, GraphAnn.autoDegree(n)))
    assert(trace.count() > 0)
    // every superseded hop generation must be gone the moment the
    // search returns — only the returned frame's own blocks may remain.
    // Without the in-loop release this is hops+1 pinned generations per
    // search until a GC happens to run: measured as a ~2x slowdown of
    // UNRELATED queries sharing the bench JVM (round 13).
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"${leaked.size} checkpoint generations retained after the search")
  }

  test("fitSample: at or under the 256·k bound the fit sees the FULL " +
      "corpus (fixture artifacts keep their bytes); above it, a " +
      "deterministic id-hash sample") {
    import graft.operators.AnnSearch
    val corpus = graft.operators.VectorSearch.normalized(spark, sf)
    val n = corpus.count()
    // every fixture build is under the bound: identical frame back
    assert(AnnSearch.fitSample(corpus, n, AnnSearch.autoClusters(n))
      eq corpus)
    // synthetic above-the-bound corpus: k=1 → target 256, stride ≥ 2
    val big = spark.range(2000).select(col("id").as("vec_id"),
      array(col("id") * 0.001, lit(1.0)).as("v"))
    val s1 = AnnSearch.fitSample(big, 2000L, 1).collect()
      .map(_.getLong(0)).sorted.toSeq
    val s2 = AnnSearch.fitSample(big, 2000L, 1).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(s1.nonEmpty && s1.size < 2000, s"sample size ${s1.size}")
    assert(s1 == s2, "the hash sample must be reproducible")
  }

  tempDirTest("a sampled-fit IVF build still assigns and persists EVERY " +
      "row (the sample bounds the fit, never the encode)") { newDir =>
    import graft.operators.{AnnSearch, VectorSearch}
    val nRows = 2000
    val big = spark.range(nRows.toLong).select(col("id").as("vec_id"),
      graft.functions.VectorOps.l2Normalize(array(
        sin(col("id") * 0.7), cos(col("id") * 1.3),
        sin(col("id") * 2.1), cos(col("id") * 0.4))).as("v"))
    val dir = newDir("graft_test_sampled_ivf").toString
    // nc=2 → training bound 512 < 2000: the fit is sampled
    assert(!(AnnSearch.fitSample(big, nRows.toLong, 2) eq big))
    AnnSearch.buildIvfOver(spark, big, 2, dir)
    assert(IndexStore.committed(s"$dir/centroids"))
    assert(spark.read.parquet(s"$dir/centroids").count() == 2L)
    assert(spark.read.parquet(s"$dir/vectors").count() == nRows.toLong,
      "the assign pass must cover every row, sampled fit or not")
  }

  tempDirTest("a sampled-fit PQ build encodes EVERY row at full code " +
      "width") { newDir =>
    import graft.operators.Quantize
    val nRows = 3000
    val big = spark.range(nRows.toLong).select(col("id").as("vec_id"),
      graft.functions.VectorOps.l2Normalize(array(
        sin(col("id") * 0.7), cos(col("id") * 1.3),
        sin(col("id") * 2.1), cos(col("id") * 0.4))).as("v"))
    val dir = newDir("graft_test_sampled_pq").toString
    // nk=4 → training bound 1024 < 3000: the per-subspace fits sample
    Quantize.buildPqOver(spark, big, 2, 4, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == nRows.toLong,
      "the encode must cover every row, sampled fit or not")
    assert(codes.filter(size(col("codes")) =!= 2).count() == 0L)
    assert(spark.read.parquet(s"$dir/codebooks").count() == 8L) // m·nk
  }
}
