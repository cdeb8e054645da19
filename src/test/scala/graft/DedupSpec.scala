package graft

import graft.operators.{Dedup, TextAnalysis, TfIdf}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exactDedup finds exactly the injected exact copies") {
    val rows = Dedup.exactDedup(spark, sf).collect()
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.length == nDocs)
    assert(rows.forall(_.getAs[Long]("n_dups") == 2L))
  }

  test("minhashDedup recovers injected near-dup pairs with high jaccard") {
    val rows = Dedup.minhashDedup(spark, sf).collect()
    val injected = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 10000)
    // LSH is probabilistic per pair, but with ~0.9 jaccard and 4 bands of 3
    // the expected recall is >99%; require most pairs recovered.
    assert(injected.length >= 450)
    assert(injected.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("SQL-only MinHash dedup equals the programmatic flagship") {
    val sql = Dedup.sqlMinhashDedup(spark, sf)
    val got = sql.collect().map(_.toSeq).toSeq
    val want = Dedup.minhashDedup(spark, sf).collect().map(_.toSeq).toSeq
    // same constants, same integer band math, same Jaccard rounding →
    // bit-identical rows, so the SQL surface shares the oracle verbatim
    assert(got.nonEmpty && got == want)
    // the candidate generator stays a band EQUI-join: no CartesianProduct
    // anywhere in the physical plan (all-pairs would be the silent scale
    // killer). The only nested-loop join allowed is the 12-row constants
    // broadcast feeding the signature aggregate.
    val plan = sql.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      plan.linesIterator.filter(_.contains("Join")).take(8).mkString("\n"))
  }

  test("SQL-only dup groups equal the iterative closure") {
    val sql = Dedup.sqlDupGroups(spark, sf)
    val got = sql.collect().map(_.toSeq).toSeq
    // dupGroups require-fails if unconverged, so equality here proves the
    // bounded unroll's round count covers the fixture graph's diameter
    val want = Dedup.dupGroups(spark, sf).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // every generated propagation round is an equi-join — an all-pairs
    // closure would be the scale killer
    val plan = sql.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      plan.linesIterator.filter(_.contains("Join")).take(8).mkString("\n"))
  }

  test("semanticDecontaminate flags exactly the perturbed eval twins") {
    val rows = Dedup.semanticDecontaminate(spark, sf).collect()
    // 50 contaminated eval items (+30000, +0.002 perturbation) each hit
    // their source train vector; the 50 rotated (+40000) items are clean
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("eval_id") == r.getAs[Long]("train_id") + 30000)
      assert(r.getAs[Double]("cosine") > 0.999)
    }
    // candidate generation is band equi-joins, never train x eval pairs
    val plan = Dedup.semanticDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      plan.linesIterator.filter(_.contains("Join")).take(6).mkString("\n"))
  }

  test("simhash of a near-identical doc is within small hamming distance") {
    val rows = Dedup.simhashDedup(spark, sf).collect()
    val injected = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 10000)
    // measured on the fixture: 452/500 injected pairs recovered by the
    // 64-bit/4-band single-band blocking (vs 428 for the old 32-bit form)
    assert(injected.length >= 440)
    assert(injected.forall(_.getAs[Long]("hamming") <= 12))
  }

  test("simhash default auto-selects blocking mode on corpus count") {
    // the switch point: ≤ 10⁷ docs keeps the higher-recall single-band
    // blocking; beyond it the 2⁻³² paired mode is the default — the safe
    // mode at 10⁹ docs must be the one you get without reading scaladoc
    assert(!Dedup.autoPairedBands(Dedup.PairedBandsAutoThreshold))
    assert(Dedup.autoPairedBands(Dedup.PairedBandsAutoThreshold + 1))
    assert(Dedup.autoPairedBands(1000L * 1000 * 1000))
    // the fixture sits far below the threshold, so the auto default IS
    // the single-band mode, row for row
    val auto = Dedup.simhashDedup(spark, sf).collect().map(_.toSeq).toSeq
    val pinned = Dedup.simhashDedup(spark, sf, pairedBands = Some(false))
      .collect().map(_.toSeq).toSeq
    assert(auto == pinned)
  }

  test("simhash paired-band mode is a subset with near-equal recall") {
    val loose = Dedup.simhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val strict = Dedup.simhashDedup(spark, sf, pairedBands = Some(true))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 2-of-4-band agreement implies 1-of-4-band agreement: strict ⊆ loose,
    // with no duplicate pairs from the disjoint-block union
    assert(strict.length == strict.toSet.size)
    assert(strict.toSet.subsetOf(loose))
    // measured fixture recall of the 2^-32-collision mode: 401/500
    val injected = strict.count { case (a, b, _) => b == a + 10000 }
    assert(injected >= 390)
  }

  test("dedup-aware split keeps every near-dup pair in one split; the " +
      "naive per-doc split leaks") {
    val pairs = Dedup.minhashDedup(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    def leaks(assign: org.apache.spark.sql.DataFrame): Long =
      pairs
        .join(assign.select(col("doc_id").as("doc_a"),
          col("split").as("sa")), "doc_a")
        .join(assign.select(col("doc_id").as("doc_b"),
          col("split").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb")).count()
    val aware = Dedup.dedupAwareAssignment(spark, sf, 0.5)
    assert(leaks(aware) == 0L)
    // the MOTIVATION: a naive per-doc content-hash split on the same
    // corpus leaks near-dup pairs across splits (a doc and its copy
    // hash independently) — the failure mode the component split closes
    import graft.functions.TextHash.hash32
    val b = hash32(col("text")) % 10
    val naive = Dedup.nearDupCorpus(spark, sf)
      .withColumn("split",
        when(b < 8, lit("train")).when(b === 8, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("split"))
    assert(leaks(naive) > 0L)
    // and the component counts reconcile: docs >= components per split
    Dedup.dedupAwareSplit(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_components"))
    }
  }

  test("embedNearDup finds exactly the offset copies above 0.9 cosine") {
    val rows = Dedup.embedNearDup(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "embeddings").count())
    assert(rows.forall(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 10000))
    assert(rows.forall(_.getAs[Double]("cosine") > 0.99))
  }

  test("incrementalDedup matches minhashDedup's cross-partition pairs and " +
      "reads persisted corpus signatures") {
    val got = Dedup.incrementalDedup(spark, sf).collect().map(_.toSeq).toSet
    val want = Dedup.minhashDedup(spark, sf).collect()
      .filter(r => r.getAs[Long]("doc_a") < 10000 &&
        r.getAs[Long]("doc_b") >= 10000)
      .map(r => Seq(r.getAs[Long]("doc_b"), r.getAs[Long]("doc_a"),
        r.getAs[Double]("jaccard")))
      .toSet
    assert(got == want)
    // corpus branch of the plan is a scan of the persisted index, not a
    // re-shingle of documents: the index dir appears in the scan relations
    val plan = Dedup.incrementalDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index_"))
  }

  test("dupGroups labels every injected pair with one component") {
    val comp = Dedup.dupGroups(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    // a component label is the min member, so label <= id
    assert(comp.forall { case (id, label) => label <= id })
    // every injected near-dup pair ends up in the same component
    val pairedIds = comp.keySet.filter(id => id < 10000 &&
      comp.contains(id + 10000))
    assert(pairedIds.nonEmpty)
    pairedIds.foreach(id => assert(comp(id) == comp(id + 10000)))
  }

  tempDirTest("mergeBatchIntoIndex produces a complete next index version") {
    newDir =>
    import graft.sources.IndexStore
    // ensure the corpus index + this run's batch artifacts exist
    Dedup.incrementalDedup(spark, sf).count()
    val dir = IndexStore.indexDir(sf, "dedup-v2", "documents")
    val out = newDir("graft_merge").toString
    Dedup.mergeBatchIntoIndex(spark, dir, out)
    // the manifest is the version's one commit marker
    assert(IndexStore.committed(s"$out/manifest"))
    val oldN = spark.read.parquet(s"$dir/shingles").count()
    val batchN = spark.read.parquet(s"$dir/batch_shingles").count()
    val merged = IndexStore.loadSegments(spark, out, "shingles")
    assert(merged.count() == oldN + batchN)
    // 4 band rows per doc in the merged band table
    val nDocs = merged.select("doc_id").distinct().count()
    assert(IndexStore.loadSegments(spark, out, "bands").count() ==
      4 * nDocs)
    // O(batch) I/O: the version's OWN segments hold only the batch —
    // the corpus signatures enter by manifest reference, never by copy
    assert(spark.read.parquet(s"$out/shingles-delta").count() == batchN)
    assert(IndexStore.readManifest(spark, out)
      .exists(e => e._1 == "shingles" && e._2 == s"$dir/shingles"))
  }

  test("mergedIndexDedup answers the full query from merged artifacts") {
    val got = Dedup.mergedIndexDedup(spark, sf).collect().map(_.toSeq).toSeq
    val want = Dedup.minhashDedup(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("embedNearDupPruned recovers the exact all-pairs result") {
    val exact = Dedup.embedNearDup(spark, sf).collect().map(_.toSeq).toSeq
    val pruned = Dedup.embedNearDupPruned(spark, sf).collect()
      .map(_.toSeq).toSeq
    // set equality with the exact join is FIXTURE-COUPLED (SRP blocking
    // has nonzero miss probability for pairs near the 0.9 threshold)...
    assert(pruned == exact)
    // ...so also assert the fixture-independent floor: every INJECTED
    // pair (cos≈0.997 → per-pair band miss probability ~1e-10) is
    // recovered regardless of the fixture draw
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    val injected = pruned.count(r =>
      r(1).asInstanceOf[Long] == r(0).asInstanceOf[Long] + 10000)
    assert(injected == nVecs)
  }

  test("langid predicts a language for every doc with integer scores") {
    val rows = TextAnalysis.langId(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    assert(rows.forall(_.getAs[Long]("score") > 0))
  }

  test("repetitionRatio bounds hold and the small-vocab corpus repeats") {
    val rows = TextAnalysis.repetitionRatio(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      val tr = r.getAs[Double]("token_rep")
      val gr = r.getAs[Double]("trigram_rep")
      assert(tr >= 0.0 && tr < 1.0)
      assert(gr >= 0.0 && gr <= 1.0)
      assert(r.getAs[Long]("n_trigrams") ==
        math.max(r.getAs[Long]("n_tokens") - 2, 0))
    }
    // the fixture's ~40-word vocabulary forces heavy token repetition
    assert(rows.count(_.getAs[Double]("token_rep") > 0.5) > rows.length / 2)
  }

  test("piiScrub fires every rule once per injected contact line") {
    val rows = TextAnalysis.piiScrub(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L)
      assert(r.getAs[Long]("n_phones") == 1L)
    }
    // distinct docs scrub to distinct digests (the redaction is not
    // collapsing everything to one token soup)
    assert(rows.map(_.getAs[String]("scrub_md5")).distinct.length ==
      rows.length)
  }

  test("balancedSample keeps exactly min-group-size docs per language") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val minN = docs.groupBy("lang").count()
      .agg(min("count")).head.getLong(0)
    val byLang = TextAnalysis.balancedSample(spark, sf).collect()
      .groupBy(_.getAs[String]("lang"))
    assert(byLang.size == docs.select("lang").distinct().count())
    byLang.values.foreach(rows => assert(rows.length == minN))
  }

  test("docFingerprint is order-sensitive and stable") {
    val a = TextAnalysis.docFingerprint(spark, sf).collect()
    val b = TextAnalysis.docFingerprint(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // fingerprints mostly distinct across 500 distinct texts
    assert(a.map(_.getAs[Long]("fingerprint")).distinct.length > 490)
  }

  test("bm25 ranks by saturated tf with length normalization") {
    val res = TfIdf.bm25Search(spark, sf).collect()
    assert(res.length == 20)
    val scores = res.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
    assert(res.forall(_.getAs[Long]("n_hits") > 0))
    // saturation: score grows sublinearly in tf — a doc can never score
    // more than (k1+1) * sum(idf of its matched DISTINCT terms)
    assert(scores.forall(_ > 0.0))
  }

  test("chunkDocs windows cover every token with the configured overlap") {
    val size = 64
    val stride = 48
    val chunks = TextAnalysis.chunkDocs(spark, sf, size, stride).collect()
    val toks = TextAnalysis.tokensPos(Tables.load(spark, sf, "documents"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == toks.keySet)
    byDoc.foreach { case (doc, cs) =>
      val (n, text) = toks(doc)
      val words = text.split(" ")
      val sorted = cs.sortBy(_.getAs[Long]("chunk_ix"))
      // chunk k holds exactly tokens [k*stride, k*stride+size)
      sorted.foreach { c =>
        val k = c.getAs[Long]("chunk_ix").toInt
        val expect = words.slice(k * stride,
          math.min(k * stride + size, n.toInt)).mkString(" ")
        assert(c.getAs[String]("chunk_text") == expect, s"doc $doc chunk $k")
      }
      // chunk ids are contiguous from 0 and cover the last token
      val ks = sorted.map(_.getAs[Long]("chunk_ix"))
      assert(ks.head == 0L && ks.sameElements(0L until ks.length))
      assert((ks.last * stride) < n && (ks.last * stride + size) >= n)
    }
  }

  test("fuzzyTokenJoin finds the distance-2 vocabulary pairs via deletes") {
    val res = TextAnalysis.fuzzyTokenJoin(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[String]("tok_a") < r.getAs[String]("tok_b"))
      assert(r.getAs[Long]("dist") >= 1L && r.getAs[Long]("dist") <= 2L)
    }
    val pairs = res.map(r =>
      (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"))).toSet
    assert(pairs.contains(("row", "slow"))) // substitution + insertion
  }

  test("docPerplexity scores every multi-token doc with positive nll") {
    val rows = TextAnalysis.docPerplexity(spark, sf).collect()
    val stats = TextAnalysis.tokenizeStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(rows.length == stats.count(_._2 >= 2))
    rows.foreach { r =>
      // single-spaced fixture text: bigrams = tokens - 1, nll finite > 0
      assert(r.getAs[Long]("n_bigrams") ==
        stats(r.getLong(0)) - 1, s"doc ${r.getLong(0)}")
      val nll = r.getAs[Double]("avg_nll")
      assert(nll > 0.0 && !nll.isNaN && !nll.isInfinite)
    }
  }

  test("funnel stages only shrink and ratios stay in [0, 1]") {
    import graft.operators.Events
    val r = Events.funnel(spark, sf).head()
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v > 0 && v >= c && c >= p)
    assert(r.getAs[Double]("view_to_click") <= 1.0)
    assert(r.getAs[Double]("click_to_purchase") <= 1.0)
  }

  test("dedupKeepBest keeps one best member per duplicate component") {
    val rows = Dedup.dedupKeepBest(spark, sf).collect()
    assert(rows.nonEmpty)
    val byComp = rows.map(r => r.getAs[Long]("component") -> r).toMap
    assert(byComp.size == rows.length) // one keeper per component
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 2L) // components imply pairs
      // equal-quality ties (the injected exact copies) resolve to the
      // LOWEST id — a corpus copy (>= 10000) can never beat its base
      assert(r.getAs[Long]("keep_doc") < 10000L)
      assert(r.getAs[Double]("keep_quality") > 0.0)
    }
  }

  test("scd2Merge closes changed rows and keeps one current row per key") {
    import graft.operators.Ingest
    val maxKey = Tables.load(spark, sf, "customer")
      .agg(org.apache.spark.sql.functions.max("c_custkey")).head.getLong(0)
    val rows = Ingest.scd2Merge(spark, sf).collect()
    val byKey = rows.groupBy(_.getAs[Long]("key"))
    byKey.foreach { case (key, vs) =>
      assert(vs.count(_.getAs[Boolean]("is_current")) == 1, s"key $key")
      if (key > maxKey) {
        // inserted brand-new key (max-shifted): one open current row
        assert(vs.length == 1)
        assert(vs.head.getAs[java.sql.Date]("valid_to") == null)
      } else if (key % 5 == 0) {
        // changed: closed original + open NEW- row
        assert(vs.length == 2)
        val closed = vs.find(!_.getAs[Boolean]("is_current")).get
        assert(closed.getAs[java.sql.Date]("valid_to") != null)
        assert(vs.find(_.getAs[Boolean]("is_current")).get
          .getAs[String]("segment").startsWith("NEW-"))
      } else {
        assert(vs.length == 1)
        assert(vs.head.getAs[java.sql.Date]("valid_to") == null)
      }
    }
  }

  test("textRank is a damped stochastic ranking over the bigram graph") {
    val res = TextAnalysis.textRank(spark, sf).collect()
    assert(res.length == 20)
    val ranks = res.map(_.getAs[Double]("rank"))
    assert(ranks.sameElements(ranks.sortBy(-_)))
    // every rank is at least the teleport floor (1-d)/N and the total
    // over ALL nodes is <= 1 (dangling mass only leaks, never grows)
    val all = TextAnalysis.textRank(spark, sf, topK = 10000).collect()
    val n = all.length.toDouble
    all.foreach(r =>
      assert(r.getAs[Double]("rank") >= (1.0 - 0.85) / n - 1e-9))
    assert(all.map(_.getAs[Double]("rank")).sum <= 1.0 + 1e-6)
  }

  test("components converges on a 50-node path well under the diameter") {
    import spark.implicits._
    // a path 0-1-2-...-49 has diameter 49: plain min-propagation needs 49
    // rounds; pointer jumping must land the whole chain on component 0
    // within a 10-round cap (O(log diameter))
    val chain = (0L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.components(chain, maxIters = 10).collect()
    assert(labels.length == 50)
    assert(labels.forall(_.getAs[Long]("component") == 0L))
    // and two disjoint chains keep distinct minima
    val two = ((0L until 9L).map(i => (i, i + 1)) ++
      (100L until 109L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val l2 = Dedup.components(two, maxIters = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    (0L to 9L).foreach(i => assert(l2(i) == 0L))
    (100L to 109L).foreach(i => assert(l2(i) == 100L))
    // and the pointer-jumping loop releases every superseded round's
    // checkpoint: only the final labels frame's blocks may survive the
    // call (the [[graft.operators.Checkpoints]] discipline)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.components(chain, maxIters = 10)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"${leaked.size} checkpoint generations retained after components")
  }

  test("semanticDedup drops exactly the lower-id-twinned docs (seed gate)") {
    val rows = Dedup.semanticDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    // every verdict points at a strictly lower-id survivor above threshold
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
      assert(r.getAs[Double]("cosine") >= 0.9)
    }
    // the injected +10000 offset copies are the only pairs above 0.9 in
    // this fixture; the ones sharing their base's cluster must be caught
    val injected = rows.count(r =>
      r.getAs[Long]("vec_id") == r.getAs[Long]("dup_of") + 10000)
    val nBase = Tables.load(spark, sf, "embeddings").count()
    assert(injected >= (nBase * 8) / 10, s"$injected of $nBase")
  }

  test("semanticDedupOver recovers injected pairs with label-mean centroids") {
    // production path: real (non-seed) centroids wired through the core —
    // per-label mean vectors stand in for k-means output
    val corpus = Dedup.embedCorpus(spark, sf)
    val cents = Tables.load(spark, sf, "embeddings")
      .select(col("label").cast("long").as("cluster"),
        posexplode(col("embedding")))
      .toDF("cluster", "pos", "x")
      .groupBy("cluster", "pos").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("s"))
      .select(col("cluster"),
        expr("transform(s, e -> e.m)").as("c"))
    val rows = Dedup.semanticDedupOver(corpus, cents, 0.9).collect()
    // an injected copy's unit vector is ~identical to its base's, so both
    // land in the same label cluster and the pair is pruned
    val injected = rows.count(r =>
      r.getAs[Long]("vec_id") == r.getAs[Long]("dup_of") + 10000)
    val nBase = Tables.load(spark, sf, "embeddings").count()
    assert(injected >= (nBase * 9) / 10, s"$injected of $nBase")
    rows.foreach(r => assert(r.getAs[Double]("cosine") >= 0.9))
  }

  test("semanticDedupOver recovers injected pairs with KMeans centroids") {
    // the PRODUCTION path end to end: fit the real k-means coarse
    // clusterer (same ml API the IVF build uses) and wire its centers
    // through the corpus-agnostic core — no seed/label stand-ins
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val corpus = Dedup.embedCorpus(spark, sf)
    val k = math.max(2,
      math.floor(math.sqrt(corpus.count() * 1.0)).toInt)
    val feats = corpus.select(col("vec_id"),
      array_to_vector(col("u")).as("features"))
    val model = new KMeans().setK(k).setSeed(7L).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(feats)
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }.toSeq
      .toDF("cluster", "c")
    val rows = Dedup.semanticDedupOver(corpus, cents, 0.9).collect()
    // an injected +0.01 copy normalizes to ~its base's unit vector, so
    // k-means cannot split the pair across centroids
    val injected = rows.count(r =>
      r.getAs[Long]("vec_id") == r.getAs[Long]("dup_of") + 10000)
    val nBase = Tables.load(spark, sf, "embeddings").count()
    assert(injected >= (nBase * 9) / 10, s"$injected of $nBase")
    rows.foreach(r => assert(r.getAs[Double]("cosine") >= 0.9))
  }

  test("domainMix quotas: no oversampled language, exact per-lang counts") {
    val docs = Tables.load(spark, sf, "documents")
    val n = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pcts = Map("en" -> 40L, "zh" -> 20L, "de" -> 20L,
      "fr" -> 10L, "es" -> 10L)
    val t = pcts.map { case (l, p) => n(l) * 100 / p }.min
    val kept = TextAnalysis.domainMix(spark, sf).collect()
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    pcts.foreach { case (l, p) =>
      val quota = p * t / 100
      assert(byLang.getOrElse(l, 0) == quota, s"$l: $quota")
      assert(quota <= n(l))
    }
    // deterministic: a second run keeps the identical doc set
    val again = TextAnalysis.domainMix(spark, sf).collect()
    assert(kept.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("decontaminate leaves the join strategy to AQE (broadcast here)") {
    val df = Dedup.decontaminate(spark, sf)
    df.collect()
    // at fixture scale AQE must still pick a broadcast join for the tiny
    // eval side — dropping the hard hint must not cost the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }
}
