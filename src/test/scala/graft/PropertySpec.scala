package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.VectorSearch

/** Property-based invariants from SURVEY.md §5.2 (raw ScalaCheck Gens with
  * fixed seeds — the scalatest bridge artifact isn't in the offline cache).
  */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))
  import spark.implicits._
  import graft.functions.VectorOps._
  import org.apache.spark.sql.functions._

  private val vecGen: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](8, Gen.choose(-5.0f, 5.0f))
      .suchThat(v => v.exists(math.abs(_) > 1e-3f))

  test("ordering by squared-L2 on normalized vectors == descending cosine") {
    val cases = samples(Gen.zip(vecGen, vecGen, vecGen), 15)
    assert(cases.nonEmpty)
    cases.foreach { case (q, a, b) =>
      val df = Seq(("a", a), ("b", b)).toDF("id", "v")
        .withColumn("u", l2Normalize(col("v")))
        .crossJoin(Seq(Tuple1(q)).toDF("qv")
          .withColumn("qu", l2Normalize(col("qv"))))
        .select(col("id"), squaredL2(col("qu"), col("u")).as("d"),
          cosineSim(col("qv"), col("v")).as("c"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val byDist = df.sortBy(_._2).map(_._1).toSeq
      val byCos = df.sortBy(-_._3).map(_._1).toSeq
      // identical ordering unless effectively tied
      val tied = math.abs(df(0)._2 - df(1)._2) < 1e-9
      assert(tied || byDist == byCos)
    }
  }

  test("top-k is a prefix of top-(k+1); kNN(k=n-1) returns all others") {
    val k5 = VectorSearch.knnSearch(spark, sf, nQueries = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val k6 = VectorSearch.knnSearch(spark, sf, nQueries = 2, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(k5.toSet.subsetOf(k6.toSet))
    val n = Tables.load(spark, sf, "embeddings").count().toInt
    val all = VectorSearch.knnSearch(spark, sf, nQueries = 1, k = n)
      .collect()
    assert(all.length == n - 1) // everything except self
  }

  test("sessionFold over arbitrary batch splits == single-pass sessions") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.{Ev, OpenSess}
    val gapUs = 100L
    def ref(evs: Seq[Ev]): Map[Long, (Long, Long, Long)] = {
      var sid = 1L; var start = evs.head.us; var last = evs.head.us
      var n = 0L
      val out = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
      evs.foreach { e =>
        if (n > 0 && e.us - last > gapUs) {
          out(sid) = (n, start, last); sid += 1; start = e.us; n = 0L
        }
        last = e.us; n += 1
      }
      out(sid) = (n, start, last)
      out.toMap
    }
    def state(prev: Option[OpenSess]) = TestGroupState.create[OpenSess](
      prev.map(Optional.of[OpenSess]).getOrElse(Optional.empty[OpenSess]()),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](), false)
    val caseGen = Gen.zip(
      Gen.listOfN(30, Gen.choose(0L, 2000L)), Gen.choose(1, 29))
    samples(caseGen, 20).foreach { case (times, splitAt) =>
      val evs = times.sorted.zipWithIndex
        .map { case (t, i) => Ev(1L, i.toLong, t) }
      val (b1, b2) = evs.splitAt(splitAt)
      val st1 = state(None)
      val out1 = StreamingOps.sessionFold(1L, b1.iterator, st1, gapUs).toList
      val st2 = state(if (st1.exists) Some(st1.get) else None)
      val out2 = StreamingOps.sessionFold(1L, b2.iterator, st2, gapUs).toList
      // update semantics: last emitted row per session id wins
      val got = (out1 ++ out2).groupBy(_.session_id).map { case (sid, rs) =>
        sid -> (rs.last.n_events, rs.last.start_us, rs.last.end_us)
      }
      assert(got == ref(evs), s"times=$times split=$splitAt")
    }
  }

  tempDirTest("NN-descent over a random corpus recovers true neighbor " +
      "structure with bounded degree") { newDir =>
    import graft.operators.GraphAnn
    val rnd = new scala.util.Random(4242)
    val n = 600; val d = 8; val deg = 8
    val data = (0 until n).map(i =>
      (i.toLong, Seq.fill(d)(rnd.nextGaussian())))
    val corpus = data.toDF("vec_id", "v0")
      .select(col("vec_id"), l2Normalize(col("v0")).as("v"))
    val dir = newDir("graft_graph_prop").toString
    GraphAnn.buildGraphOver(spark, corpus, dir, deg)
    val edges = GraphAnn.resolvedGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // structural invariants on ARBITRARY data: no self edges, degree
    // bound, every node covered
    assert(edges.forall { case (a, b) => a != b })
    val bySrc = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(bySrc.size == n)
    assert(bySrc.values.forall(_.size <= deg))
    // construction QUALITY: each node's edge set must contain most of
    // its true nearest neighbors (exact top-(deg/2) computed locally —
    // the random-block init sees only ~1/3 of the corpus per node, so
    // this is the descent rounds' work, not the init's)
    val unit = data.map { case (id, v0) =>
      val nrm = math.sqrt(v0.map(x => x * x).sum)
      id -> v0.map(_ / nrm).toArray
    }.toMap
    val want = deg / 2
    val recalls = (0L until n.toLong).map { i =>
      val vi = unit(i)
      val top = unit.iterator.filter(_._1 != i)
        .map { case (j, vj) =>
          (j, vi.zip(vj).map(p => (p._1 - p._2) * (p._1 - p._2)).sum)
        }.toArray.sortBy(p => (p._2, p._1)).take(want).map(_._1).toSet
      top.count(bySrc(i)).toDouble / want
    }
    val avg = recalls.sum / n
    assert(avg >= 0.85, f"graph construction recall $avg%.3f")
  }

  test("dedup idempotence: exactDedup of an already-unique corpus is empty") {
    val docs = Tables.load(spark, sf, "documents")
    val dups = docs.select(md5(lower(trim(col("text")))).as("k"))
      .groupBy("k").count().filter(col("count") >= 2)
    assert(dups.count() == 0) // fixture is dup-free; operator finds none
  }

  test("SQ8 invariants hold for arbitrary vectors incl. degenerate rows") {
    import graft.operators.Quantize
    val cases = samples(vecGen, 30)
      .map(_.map(_.toDouble).toSeq)
    // append the degenerate shapes the guard exists for: all-zero (scale
    // would be inf) and a NaN element (normalization of a zero vector)
    val all = cases :+ Seq.fill(8)(0.0) :+
      (Seq(Double.NaN) ++ Seq.fill(7)(1.0))
    val df = all.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val out = Quantize.quantize(df).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("scale"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("qv")))
            .map(_.asInstanceOf[scala.collection.Seq[Byte]]))).toMap
    all.zipWithIndex.foreach { case (v, i) =>
      val (scale, qv) = out(i.toLong)
      val maxabs = v.map(x => math.abs(x)).max
      if (maxabs > 0 && !maxabs.isNaN) {
        // reconstruction within the half-step bound, codes in [-127,127]
        assert(scale.nonEmpty && qv.nonEmpty)
        qv.get.zip(v).foreach { case (q, x) =>
          assert(math.abs(q) <= 127)
          assert(math.abs(x - q.toDouble / scale.get) <=
            0.5 / scale.get + 1e-12)
        }
      } else {
        // degenerate rows quantize to NULL, not a crash or garbage codes
        assert(scale.isEmpty && qv.isEmpty, s"row $i: $v")
      }
    }
  }

  test("degenerate NULL-adist rows never displace real candidates") {
    import graft.operators.VectorSearch
    // the SEARCH path over degenerates (the r3-advice gap): quantize()
    // yields NULL scale/qv for zero-norm rows, which makes the asymmetric
    // distance NULL — pruning must rank those LAST (asc_nulls_last), so a
    // degenerate row consumes a rerank slot only when no real candidate
    // remains
    val qu = Seq(1.0, 0.0)
    val adist = Seq(
      (0L, qu, 1L, Option(0.5)),
      (0L, qu, 2L, Option.empty[Double]), // degenerate: NULL adist
      (0L, qu, 3L, Option(0.1)),
      (1L, qu, 4L, Option.empty[Double]), // a query with ONLY degenerates
      (1L, qu, 5L, Option.empty[Double]))
      .toDF("query_id", "qu", "id", "adist")
    val kept = VectorSearch.pruneCandidates(adist, 2).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    // real candidates fill the margin first; NULLs overflow out
    assert(kept(0L) == Set(1L, 3L))
    // with no real candidates the NULL rows still flow through (ties on
    // id) rather than vanishing — rescore then drops them naturally
    assert(kept(1L) == Set(4L, 5L))
  }

  test("chunkTokens reconstructs arbitrary docs exactly at any geometry") {
    import graft.operators.TextAnalysis
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val docGen = Gen.choose(1, 150).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = samples(docGen, 25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    for ((size, stride) <- Seq((8, 8), (8, 5), (16, 4), (5, 1))) {
      val got = TextAnalysis.chunkTokens(df, size, stride).collect()
        .groupBy(_.getAs[Long]("doc_id"))
      docs.foreach { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        val chunks = got(id).sortBy(_.getAs[Long]("chunk_ix"))
        // chunk k == words[k*stride, k*stride+size) EXACTLY, ids dense
        chunks.zipWithIndex.foreach { case (c, k) =>
          assert(c.getAs[Long]("chunk_ix") == k.toLong)
          val want = words.slice(k * stride, k * stride + size)
          assert(c.getAs[String]("chunk_text") == want.mkString(" "),
            s"doc $id size $size stride $stride chunk $k")
          assert(c.getAs[Long]("n_tokens") == want.length.toLong)
        }
        // coverage: the last chunk reaches the last token, no chunk past it
        val nk = chunks.length
        assert((nk - 1) * stride < words.length)
        assert((nk - 1) * stride + size >= words.length)
      }
    }
  }

  test("fuzzyVocabJoin == brute-force levenshtein over random vocab") {
    import graft.operators.TextAnalysis
    val wordGen = Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    // small alphabet → plenty of near pairs
    val vocab = samples(wordGen, 120).distinct
    val df = vocab.map(w => (w, 1L)).toDF("tok", "freq")
    val got = TextAnalysis.fuzzyVocabJoin(df, maxDist = 2).collect()
      .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"),
        r.getAs[Long]("dist"))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vocab; b <- vocab if a < b
      dd = lev(a, b) if dd <= 2
    } yield (a, b, dd.toLong)).toSet
    assert(want.nonEmpty) // the generator actually produced near pairs
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("substringRuns == brute-force longest-common-run DP over random " +
    "docs with planted verbatim quotes") {
    import graft.operators.Dedup
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.containerOfN[Vector, String](24, tokGen)
    val base = samples(docGen, 10).map(_.toVector)
    // plant a shared 9-token quote into docs 3..5 so runs ≥ the floor
    // exist by construction, at different offsets (distinct diagonals)
    val quote = Vector("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9")
    val docs = base.zipWithIndex.map { case (d, i) =>
      if (i >= 3 && i <= 5) (d.take(2 * i) ++ quote ++ d.drop(2 * i))
      else d
    }
    val n = 3
    val minRun = 5L
    val df = spark.createDataFrame(
      docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
    ).toDF("doc_id", "text")
    val got = Dedup.substringRunsOver(df, n, minRun, 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("run_tokens"))
      .toMap
    // brute force: longest common contiguous token run per pair
    def lcr(a: Vector[String], b: Vector[String]): Int = {
      var best = 0
      for (i <- a.indices; j <- b.indices if a(i) == b(j)) {
        var k = 0
        while (i + k < a.length && j + k < b.length && a(i + k) == b(j + k))
          k += 1
        best = math.max(best, k)
      }
      best
    }
    val want = (for {
      i <- docs.indices; j <- docs.indices if i < j
      r = lcr(docs(i), docs(j)) if r >= minRun
    } yield (i.toLong, j.toLong) -> r.toLong).toMap
    assert(want.nonEmpty) // the planted quotes actually produced runs
    assert(got == want,
      s"missing=${(want.toSet -- got.toSet).take(5)} " +
        s"extra=${(got.toSet -- want.toSet).take(5)}")
  }

  test("SQL closure unroll == iterative components on random graphs, " +
      "and the round bound is real") {
    import graft.operators.Dedup
    // random undirected graphs: up to 24 nodes, raw random edge lists —
    // self-loops and duplicate edges stay IN, the closure (and the
    // iterative reference) must tolerate both
    val edgeGen = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong - 1), Gen.choose(0L, n.toLong - 1)))
    } yield edges
    val cases = samples(edgeGen, 8).filter(_.nonEmpty)
    assert(cases.nonEmpty)
    cases.foreach { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      // rounds = node count ≥ any diameter → must equal the converged
      // iterative closure exactly
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
      val got = Dedup.sqlClosureOver(spark, pairs, rounds = nodes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = Dedup.components(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"edges=$edges")
    }
    // the bound is real, not vacuous — and an outgrown cap fails LOUDLY:
    // on a path of 11 nodes, 2 rounds of min-propagation cannot carry
    // label 0 to the far end, and the runtime convergence gate must turn
    // that into an error, never silently mislabeled components
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[Exception] {
      Dedup.sqlClosureOver(spark, path, rounds = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("unconverged")), e.toString)
    val full = Dedup.sqlClosureOver(spark, path, rounds = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full.values.forall(_ == 0L))
  }

  test("Misra–Gries: for random streams and ARBITRARY partition splits, " +
    "the merged sketch keeps every item above n/(m+1) and the recount " +
    "filter equals the exact share > 1/m set") {
    import graft.functions.SketchAggregators.{MgBuf, MisraGriesAgg}
    // skewed alphabet: a few hot items + a long tail, so some runs have
    // true heavy hitters and some don't
    val itemGen = Gen.frequency(
      (5, Gen.const("hot1")), (3, Gen.const("hot2")),
      (2, Gen.const("hot3")),
      (10, Gen.choose(0, 200).map(i => s"tail$i")))
    val caseGen = Gen.zip(
      Gen.chooseNum(50, 400).flatMap(n => Gen.listOfN(n, itemGen)),
      Gen.chooseNum(2, 8),   // m (capacity)
      Gen.chooseNum(1, 6))   // number of partitions to split into
    samples(caseGen, 40).foreach { case (stream, m, nSplits) =>
      val agg = new MisraGriesAgg(m)
      // fold each contiguous split independently, then merge — the
      // distributed execution shape, for EVERY split arity
      val parts = stream.grouped(
        math.max(1, stream.size / nSplits)).toSeq
      val sketch = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val (cands, n) = sketch
      assert(n === stream.size.toLong)
      assert(cands.size <= m, s"capacity: ${cands.size} > $m")
      val exact = stream.groupBy(identity).map { case (k, v) =>
        k -> v.size.toLong }
      // guarantee: anything with freq > n/(m+1) is a candidate
      exact.foreach { case (k, f) =>
        if (f * (m + 1) > n)
          assert(cands.contains(k), s"lost $k (f=$f, n=$n, m=$m)")
      }
      // the operator's downstream contract: recount candidates, keep
      // freq·m > n — must equal the exact share > 1/m set
      val got = cands.keySet.map(k => k -> exact(k))
        .filter { case (_, f) => f * m > n }.toMap
      val want = exact.filter { case (_, f) => f * m > n }
      assert(got === want, s"m=$m n=$n splits=$nSplits")
    }
  }
}
