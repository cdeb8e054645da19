package graft

import org.apache.spark.sql.functions._

import graft.operators.{Events, VectorAnalytics}

/** Round-11 analytics: power-iteration PCA and rolling z-score
  * anomalies, each checked against an independent local
  * reimplementation.
  */
class AnalyticsSpec extends SparkSpec {

  test("retrieval metrics are bounded and consistent with the " +
      "flagship ranking") {
    import graft.operators.{Evaluation, VectorSearch}
    val rows = Evaluation.retrievalMetrics(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      Seq("mrr", "p_at_k", "recall_at_k", "ndcg_at_k").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0 + 1e-9, s"$c=$v")
      }
      // a query found a relevant doc iff it has a reciprocal rank
      assert((r.getAs[Double]("p_at_k") > 0) ==
        (r.getAs[Double]("mrr") > 0))
    }
    // precision@k recomputed independently from the ranking + labels
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byQ = VectorSearch.knnSearch(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = byQ(q).count(x =>
        labels(x.getAs[Long]("id")) == labels(q))
      assert(math.abs(r.getAs[Double]("p_at_k") - hits / 10.0) < 1e-9, q)
    }
  }

  tempDirTest("retrieval metrics: a label-unique query still emits a row " +
      "(n_rel = 0, vacuous recall/nDCG = 1)") { newDir =>
    // ADVICE r12: the inner join with the truth-set sizes silently
    // dropped queries whose label appears on no OTHER vector; the left
    // join makes the n_rel = 0 branches live. Synthetic fixture: query 0
    // carries a label nothing else has.
    import graft.operators.Evaluation
    val dir = newDir("graft_uniq_label").toString
    val rows = (0L until 12L).map { i =>
      val lbl = if (i == 0L) 99 else 1
      (i, Array.tabulate(4)(j =>
        (1.0f + i * 0.1f) * (j + 1) + (i % 3)), lbl)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Evaluation.retrievalMetrics(spark, dir, nQueries = 2, k = 5)
      .collect()
    assert(got.length == 2, "both queries must emit a row")
    val q0 = got.find(_.getAs[Long]("query_id") == 0L).get
    assert(q0.getAs[Long]("n_rel") == 0L)
    assert(q0.getAs[Double]("mrr") == 0.0)
    assert(q0.getAs[Double]("p_at_k") == 0.0)
    // empty truth set: vacuously perfect recall/nDCG, not a dropped row
    assert(q0.getAs[Double]("recall_at_k") == 1.0)
    assert(q0.getAs[Double]("ndcg_at_k") == 1.0)
    val q1 = got.find(_.getAs[Long]("query_id") == 1L).get
    assert(q1.getAs[Long]("n_rel") == 10L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("pcaPowerIteration matches a local dense power iteration and " +
    "returns a unit top component with positive eigenvalue") {
    val got = VectorAnalytics.pcaPowerIteration(spark, sf).collect()
    val loadings = got.sortBy(_.getLong(0)).map(_.getDouble(1))
    val eig = got.head.getDouble(2)
    // unit norm (post-rounding tolerance)
    val nrm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-3, s"norm $nrm")
    assert(eig > 0.0, s"eigenvalue $eig")
    // independent local reimplementation on the collected matrix
    val x = Tables.load(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = x.length
    val d = x.head.length
    val mu = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    val c = x.map(r => r.zip(mu).map { case (a, b) => a - b })
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var ray = 0.0
    (1 to 3).foreach { _ =>
      val w = Array.ofDim[Double](d)
      c.foreach { r =>
        val s = r.zip(v).map { case (a, b) => a * b }.sum
        var j = 0; while (j < d) { w(j) += r(j) * s; j += 1 }
      }
      ray = v.zip(w).map { case (a, b) => a * b }.sum / n
      val wn = math.sqrt(w.map(y => y * y).sum)
      v = w.map(_ / wn)
    }
    loadings.zip(v).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4, s"loading $a vs local $b")
    }
    assert(math.abs(eig - ray) < 1e-3, s"eig $eig vs local $ray")
  }

  test("chunkEmbedSearch returns k foreign chunks per query with " +
    "contiguous ranks and real chunk indices") {
    import graft.operators.VectorSearch
    val rows = VectorSearch.chunkEmbedSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(4)).sorted.toSeq === (1L to rs.length).toSeq)
      rs.foreach { r =>
        assert(r.getLong(1) != q, s"query $q retrieved its own chunk")
        assert(r.getLong(2) >= 0L)
      }
    }
    // every retrieved (doc, chunk) exists in the chunk inventory
    val chunks = graft.operators.TextAnalysis.chunkDocs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach(r =>
      assert(chunks.contains((r.getLong(1), r.getLong(2)))))
  }

  test("eventAnomalies rows reproduce from a local trailing-window " +
    "recomputation and respect the minN/z gates") {
    val got = Events.eventAnomalies(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val local = scala.collection.mutable.Map.empty[Long, Double]
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(t => (t._3, t._1))
      ordered.indices.foreach { i =>
        val win = ordered.slice(math.max(0, i - 20), i).map(_._4)
        if (win.length >= 10) {
          val mu = r6(win.sum / win.length)
          val sd = r6(math.sqrt(
            win.map(x => (x - win.sum / win.length) *
              (x - win.sum / win.length)).sum / (win.length - 1)))
          if (sd > 0) {
            val z = r4((ordered(i)._4 - mu) / sd)
            if (math.abs(z) > 3.0) local(ordered(i)._1) = z
          }
        }
      }
    }
    assert(got.keySet === local.keySet,
      s"flag sets differ: extra=${got.keySet -- local.keySet} " +
        s"missing=${local.keySet -- got.keySet}")
    got.foreach { case (id, z) =>
      assert(math.abs(z - local(id)) < 1e-9, s"event $id z $z vs ${local(id)}")
    }
    assert(got.nonEmpty, "fixture should flag at least one anomaly")
  }
}
