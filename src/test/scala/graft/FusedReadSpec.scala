package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps.l2Normalize
import graft.operators.{AnnSearch, Quantize}
import graft.sources.IndexStore

/** The small-Q read (driver-side probe, per-task top-k, one scan job)
  * against the joined read over the same version, on data shapes the
  * fixtures never produce. Every search runs at a small `expectedQ` and
  * at `JoinProbeQueryThreshold + 1`; the two must return equal rows in
  * equal order. The queries are fixture vectors 0–9, which the index
  * itself stores, so every read also excludes each query's own id.
  */
class FusedReadSpec extends SparkSpec {

  private lazy val queries = AnnSearch.fixtureQueries(spark, sf, 10)
  private lazy val np = AnnSearch.defaultProbe(spark, sf)
  private lazy val m = Quantize.resolveM(spark, sf, 0)
  private lazy val nk = AnnSearch.pqCodebookSize(spark, sf)
  private val joinQ = AnnSearch.JoinProbeQueryThreshold + 1

  /** The rows of `search` at both strategies, asserted equal. */
  private def same(name: String, search: Long => DataFrame): Seq[Seq[Any]] = {
    val small = search(10L)
    assert(small.queryExecution.executedPlan.toString.contains("FusedTopK"),
      s"$name: the small-Q read did not plan the fused top-k")
    val got = small.collect().map(_.toSeq).toSeq
    val want = search(joinQ).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want, s"$name: small-Q-only " +
      s"${got.diff(want).take(3)}, joined-only ${want.diff(got).take(3)}")
    got
  }

  /** Fixture rows (vec_id < 10 — the queries) re-added under new ids, and
    * 50 more copies of query 0: duplicate vectors tie on distance, and
    * the copies share query 0's PQ code, more than the rerank margin of
    * 40 holds.
    */
  private lazy val batch: DataFrame = {
    val raw = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))")
        .as("v"))
    raw.filter(col("vec_id") < 10)
      .select((col("vec_id") + 300000L).as("vec_id"), col("v"))
      .unionByName(raw.filter(col("vec_id") === 0).crossJoin(spark.range(50))
        .select((col("id") + 400000L).as("vec_id"), col("v")))
  }

  /** A third of the fixture, two of the duplicates and five of the
    * copies of query 0.
    */
  private lazy val deleted: DataFrame =
    Tables.load(spark, sf, "embeddings").select(col("vec_id"))
      .filter(col("vec_id") % 3 === 1)
      .unionByName(spark.range(300000L, 300002L).toDF("vec_id"))
      .unionByName(spark.range(400045L, 400050L).toDF("vec_id"))

  /** Every row any version below holds, normalized as stored: the
    * fixture, the batch, and the NULL-score rows' ids mapped to query
    * 1's vector, whose own duplicate is deleted — were a NULL-score row
    * to enter a margin, the rescore would rank it first for query 1.
    */
  private lazy val corpus: DataFrame = {
    val normed = AnnSearch.normalizedCorpus(spark, sf)
    val q1 = normed.filter(col("vec_id") === 1).select(col("v"))
    normed
      .unionByName(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
      .unionByName(spark.range(500000L, 500100L).toDF("vec_id").crossJoin(q1))
  }

  /** A version over `dir`'s layout with one more data segment: a row per
    * cluster (ids from 500000) whose score columns `payload` are NULL.
    */
  private def withNullRows(dir: String, data: String, payload: Seq[String],
                           out: String): String = {
    val layout = AnnSearch.ivfLayout(spark, dir, data)
    val template = IndexStore.readUnion(spark, layout.segments)
    val seg = s"$out/nulls"
    template.dropDuplicates("cluster")
      .select(template.columns.toSeq.map { c =>
        if (c == "vec_id") (col("cluster").cast("long") + 500000L).as(c)
        else if (payload.contains(c))
          lit(null).cast(template.schema(c).dataType).as(c)
        else col(c)
      }: _*)
      .write.partitionBy("cluster").parquet(seg)
    IndexStore.writeManifest(spark, out,
      layout.successor(layout.segments :+ seg, layout.tombstones))
    out
  }

  private def ids(rows: Seq[Seq[Any]], from: Long): Seq[Long] =
    rows.map(_(1).asInstanceOf[Long]).filter(_ >= from)

  /** Query 0's result ids among its copies: they tie at distance 0. */
  private def copiesOfQ0(rows: Seq[Seq[Any]]): Seq[Long] =
    ids(rows.filter(_.head == 0L), 400000L).filter(_ < 500000L)

  /** All but one in ten fixture rows, deleted from `base`. */
  private def sparse(base: String, out: String,
                     delete: (String, DataFrame, String) => Unit): String = {
    delete(base, Tables.load(spark, sf, "embeddings").select(col("vec_id"))
      .filter(col("vec_id") % 10 =!= 0), out)
    out
  }

  /** Some query returned fewer than k = 10 rows. */
  private def short(rows: Seq[Seq[Any]]): Boolean =
    rows.groupBy(_.head).values.exists(_.size < 10)

  tempDirTest("flat and filtered small-Q reads equal the joined read on " +
      "duplicates, tombstones, NULL distances and sparse clusters") {
      newDir =>
    def tmp(p: String) = newDir(p).toString
    val base = AnnSearch.ensureIvfIndex(spark, sf)
    val app = tmp("graft_fused_flat_app")
    AnnSearch.appendToIvfIndexAt(spark, base, batch, app)
    val del = tmp("graft_fused_flat_del")
    AnnSearch.deleteFromIvfIndexAt(spark, app, deleted, del)
    val nulls = withNullRows(del, "vectors", Seq("v"),
      tmp("graft_fused_flat_null"))
    def flat(dir: String, nProbe: Int)(q: Long) =
      AnnSearch.searchIndexAt(spark, dir, queries, 10, nProbe, q)
    same("flat append", flat(app, np))
    // duplicates tie at distance 0 and rank by id; query 0's own row and
    // the deleted copies are never returned
    assert(copiesOfQ0(same("flat delete", flat(del, np))) ==
      (400000L until 400010L))
    // a NULL distance ranks first, as the window's ascending order does
    assert(ids(same("flat nulls", flat(nulls, np)), 500000L).nonEmpty)
    // one probed cluster of a 90%-deleted version holds fewer than k
    // live rows
    val thin = sparse(base, tmp("graft_fused_flat_sparse"),
      AnnSearch.deleteFromIvfIndexAt(spark, _, _, _))
    assert(short(same("flat sparse", flat(thin, 1))))
    // the filtered layout: the label pushed into the probed scan of a
    // tombstoned version
    val flt = tmp("graft_fused_filtered_del")
    AnnSearch.deleteFromIvfIndexAt(spark, AnnSearch.loadOrBuildFilteredIvf(
      spark, sf, AnnSearch.clusterCountAt(spark, base)), deleted, flt)
    for (p <- Seq(2, np))
      same(s"filtered nprobe $p", q => AnnSearch.ivfFilteredSearchAt(spark,
        flt, queries, 1, 10, p, q))
  }

  tempDirTest("quantized small-Q reads equal the joined read, NULL scores " +
      "rank last and ADC ties past the margin break by id") { newDir =>
    def tmp(p: String) = newDir(p).toString
    val base = AnnSearch.buildIvfPqIndex(spark, sf)
    val app = tmp("graft_fused_pq_app")
    AnnSearch.appendToIvfPqIndexAt(spark, base, batch, app, m, nk)
    val del = tmp("graft_fused_pq_del")
    AnnSearch.deleteFromIvfPqIndexAt(spark, app, deleted, del)
    val nulls = withNullRows(del, "codes", Seq("codes"),
      tmp("graft_fused_pq_null"))
    def pq(dir: String, nProbe: Int)(q: Long) =
      AnnSearch.ivfPqSearchAt(spark, dir, queries, corpus, 10, nProbe, m, nk,
        40, q)
    same("pq append", pq(app, np))
    // 45 live copies of query 0 share its code, more than the margin
    // holds: the margin keeps the smallest ids of the tie, so the copies
    // query 0 gets back are a run from the smallest
    val copies = copiesOfQ0(same("pq delete", pq(del, np)))
    assert(copies.nonEmpty && copies == (400000L until 400000L + copies.size))
    assert(ids(same("pq nulls", pq(nulls, np)), 500000L).isEmpty)
    val thin = sparse(base, tmp("graft_fused_pq_sparse"),
      AnnSearch.deleteFromIvfPqIndexAt(spark, _, _, _))
    assert(short(same("pq sparse", pq(thin, 1))))
    // SQ8: a NULL adist (a zero-norm row's NULL scale and codes) ranks
    // last in the margin, over a tombstoned version of the plain layout
    val sqDel = tmp("graft_fused_sq_del")
    AnnSearch.deleteFromIvfIndexAt(spark, AnnSearch.buildIvfSqIndex(spark, sf),
      deleted, sqDel)
    val sqNulls = withNullRows(sqDel, "vectors", Seq("qv", "scale"),
      tmp("graft_fused_sq_null"))
    for (dir <- Seq(sqDel, sqNulls))
      assert(ids(same(s"sq8 $dir", q => AnnSearch.ivfSqSearchAt(spark, dir,
        queries, corpus, 10, np, 40, q)), 500000L).isEmpty, dir)
  }
}
