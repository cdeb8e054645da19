package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.{AnnSearch, GraphAnn}
import graft.sources.IndexStore

/** The small-Q graph beam (driver-side beam, one adjacency and one
  * scoring job per hop) against the joined beam over the same version,
  * on data shapes the fixture graph never produces. Every search runs at
  * a small `expectedQ` and at `JoinProbeQueryThreshold + 1`; the traces
  * must hold equal rows, hop labels included, and the top-k rows must be
  * equal in equal order. The queries are fixture vectors 0–9, which every
  * version stores, so each beam walks through its own query and the
  * ranking drops it.
  */
class GraphBeamSpec extends SparkSpec {

  private lazy val queries = AnnSearch.fixtureQueries(spark, sf, 10)
  private val joinQ = AnnSearch.JoinProbeQueryThreshold + 1

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** A trace's rows in (query_id, id) order. */
  private def trace(df: DataFrame): Seq[Seq[Any]] =
    rows(df).sortBy(r => (r.head.asInstanceOf[Number].longValue,
      r(1).asInstanceOf[Long]))

  /** The trace and top-k rows of the small-Q beam over `dir`, asserted
    * equal to the joined beam's.
    */
  private def same(name: String, dir: String, qs: DataFrame, ef: Int,
                   hops: Int): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val small = GraphAnn.searchTraceAt(spark, dir, qs, ef, hops,
      expectedQ = 10L)
    assert(small.queryExecution.logical.isInstanceOf[LocalRelation],
      s"$name: the small-Q beam did not run on the driver")
    val got = trace(small)
    val want = trace(GraphAnn.searchTraceAt(spark, dir, qs, ef, hops,
      expectedQ = joinQ))
    assert(got.nonEmpty && got == want, s"$name trace: small-Q-only " +
      s"${got.diff(want).take(3)}, joined-only ${want.diff(got).take(3)}")
    val top = rows(GraphAnn.graphSearchAt(spark, dir, qs, 10, ef, hops,
      expectedQ = 10L))
    val topJ = rows(GraphAnn.graphSearchAt(spark, dir, qs, 10, ef, hops,
      expectedQ = joinQ))
    assert(top == topJ, s"$name top-k: small-Q-only " +
      s"${top.diff(topJ).take(3)}, joined-only ${topJ.diff(top).take(3)}")
    (got, top)
  }

  private def ids(rows: Seq[Seq[Any]]): Seq[Long] =
    rows.map(_(1).asInstanceOf[Long])

  /** Fixture rows 0–4 re-added three times each under ids from 300000:
    * every query 0–4 has three copies at distance 0, which rank by id.
    */
  private lazy val copies: DataFrame =
    Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 5)
      .crossJoin(spark.range(3).withColumnRenamed("id", "c"))
      .select((col("vec_id") * 10L + col("c") + 300000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

  tempDirTest("small-Q beam equals the joined beam on appended duplicates, " +
      "duplicate edges, tombstones and self-queries") { newDir =>
    def tmp(p: String) = newDir(p).toString
    val base = GraphAnn.ensureGraphIndex(spark, sf)
    val n = AnnSearch.embeddingCount(spark, sf)
    val ef = GraphAnn.autoEf(n)
    val hops = GraphAnn.autoHops(n, GraphAnn.autoDegree(n))
    val (baseTrace, baseTop) = same("base", base, queries, ef, hops)
    // self is walked (query q sits at distance 0 in its own beam) but
    // never ranked
    assert(baseTrace.exists(r => r.head == r(1)))
    assert(baseTop.forall(r => r.head != r(1)))
    val app = tmp("graft_beam_app")
    GraphAnn.appendToGraphIndexAt(spark, base, copies, app)
    val (_, appTop) = same("append", app, queries, ef, hops)
    // ties at distance 0 break by id
    val tied = appTop.filter(r => r.head == 0L && r(2) == 0.0)
    assert(ids(tied) == Seq(300000L, 300001L, 300002L), tied)
    // the same version with the base graph segment listed twice: every
    // base edge twice in the raw union
    val dup = tmp("graft_beam_dup")
    val appMan = IndexStore.readManifest(spark, app)
    IndexStore.readCached(spark, s"$app/meta").write.mode("overwrite")
      .parquet(s"$dup/meta")
    IndexStore.writeManifest(spark, dup, appMan :+ (("graph",
      IndexStore.manifestSegments(appMan, "graph").head,
      appMan.map(_._3).max + 1L)))
    same("duplicate edges", dup, queries, ef, hops)
    // tombstoned copies and a third of the fixture: walked, never ranked
    val del = tmp("graft_beam_del")
    val dead = Tables.load(spark, sf, "embeddings").select(col("vec_id"))
      .filter(col("vec_id") % 3 === 1)
      .unionByName(spark.range(300000L, 300002L).toDF("vec_id"))
    GraphAnn.deleteFromGraphIndex(spark, app, dead, del)
    val (delTrace, delTop) = same("delete", del, queries, ef, hops)
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(ids(delTrace).exists(deadIds))
    assert(!ids(delTop).exists(deadIds))
    assert(ids(delTop.filter(r => r.head == 0L && r(2) == 0.0)) ==
      Seq(300002L))
  }

  test("small-Q beam equals the joined beam when it converges at hop 1") {
    val dir = GraphAnn.ensureGraphIndex(spark, sf)
    // each seed queried with a beam of 1: its own row at distance 0 holds
    // the beam, so hop 1 brings no entrant
    val seedQueries = IndexStore.loadSegments(spark, dir, "seeds")
      .select(col("vec_id").as("query_id"), col("v").as("qu"))
      .orderBy("query_id").limit(10)
    val (t, _) = same("converged", dir, seedQueries, 1, 3)
    assert(t.size == 10 && t.forall(r => r(3) == 0), t)
  }

  tempDirTest("small-Q beam equals the joined beam along a chain whose " +
      "every node is reached through one edge") { newDir =>
    import spark.implicits._
    // a hand-built version over fixture vectors 0–29: one seed (node 0)
    // and the edges i -> i+1, so a lost edge or a missed expansion cuts
    // the walk short
    val dir = newDir("graft_beam_chain").toString
    val b = 4
    Seq((1, b)).toDF("degree", "buckets").write.parquet(s"$dir/meta")
    val corpus = AnnSearch.normalizedCorpus(spark, sf)
      .filter(col("vec_id") < 30)
    corpus.filter(col("vec_id") === 0).write.parquet(s"$dir/seeds")
    corpus.withColumn("bucket", pmod(col("vec_id"), lit(b)))
      .write.partitionBy("bucket").parquet(s"$dir/vectors")
    spark.range(29).select(col("id").as("src"), (col("id") + 1).as("dst"),
        lit(0.0).as("dist"), pmod(col("id"), lit(b)).as("bucket"))
      .write.partitionBy("bucket").parquet(s"$dir/graph")
    IndexStore.writeManifest(spark, dir, Seq(
      ("vectors", s"$dir/vectors", 0L), ("graph", s"$dir/graph", 0L),
      ("seeds", s"$dir/seeds", 0L)))
    val (t, _) = same("chain", dir, queries, 64, 40)
    // node i is first scored at hop i, for every query
    assert(t.filter(_.head == 0L).map(r => (r(1), r(3))) ==
      (0 until 30).map(i => (i.toLong, i)))
  }

  tempDirTest("small-Q beam equals the joined beam over a corpus smaller " +
      "than the beam") { newDir =>
    val dir = newDir("graft_beam_tiny").toString
    val corpus = AnnSearch.normalizedCorpus(spark, sf)
      .filter(col("vec_id") < 40)
    GraphAnn.buildGraphOver(spark, corpus, dir, GraphAnn.autoDegree(40))
    // every node is a seed: hop 1 finds nothing fresh
    val (t, top) = same("tiny", dir, queries, GraphAnn.autoEf(40), 3)
    assert(t.size == 10 * 40 && t.forall(r => r(3) == 0))
    assert(top.size == 10 * 10)
  }
}
