package graft

import graft.operators.{AnnSearch, GraphAnn, Quantize}
import graft.sources.IndexStore
import graft.streaming.StreamingIndex

/** Job-count ceilings of the IVF probe-and-scan, one per code format and
  * probe strategy, and of the graph beam and the latest-snapshot read. A job count is a property of the plan, not of the
  * machine, so wall-clock noise cannot trip these; an extra job per
  * search (a second probe collect, an un-shared broadcast, a count
  * added to a hot path) does.
  */
class ProbeScanJobsSpec extends SparkSpec {

  /** Jobs started by `run`, counted under one job group. The search runs
    * once untimed first, so per-path schema and size caches are warm and
    * only the steady-state query is counted.
    */
  private def jobsOf(run: () => Unit): Int = {
    run()
    jobCount(run)
  }

  test("each code format's probe-and-scan stays at its job ceiling") {
    val queries = AnnSearch.fixtureQueries(spark, sf, 10)
    val normed = AnnSearch.normalizedCorpus(spark, sf)
    val np = AnnSearch.defaultProbe(spark, sf)
    val ivf = AnnSearch.ensureIvfIndex(spark, sf)
    val pq = AnnSearch.buildIvfPqIndex(spark, sf)
    val m = Quantize.resolveM(spark, sf, 0)
    val nk = AnnSearch.pqCodebookSize(spark, sf)
    val joinQ = AnnSearch.JoinProbeQueryThreshold + 1
    val graph = GraphAnn.ensureGraphIndex(spark, sf)
    val n = AnnSearch.embeddingCount(spark, sf)
    val (ef, hops) = (GraphAnn.autoEf(n),
      GraphAnn.autoHops(n, GraphAnn.autoDegree(n)))
    StreamingIndex.streamingIndexIngest(spark, sf)
    val latest = IndexStore.indexDir(sf, "stream-index-v4", "documents")
    val query = normed.filter("vec_id = 0").select("v").head()
      .getSeq[Double](0)
    // (name, ceiling, search): each ceiling is the search's job count on
    // the sf0.001 fixture with local[4] and 4 shuffle partitions; a
    // search over it has gained a job. A small-Q ("collect") read is the
    // query collect plus one fused scan job, and a quantized one adds
    // the rescore job
    val cases: Seq[(String, Int, () => Unit)] = Seq(
      ("flat-collect", 2, () =>
        AnnSearch.searchIndexAt(spark, ivf, queries, 10, np, 10L)
          .collect()),
      ("flat-joined", 8, () =>
        AnnSearch.searchIndexAt(spark, ivf, queries, 10, np, joinQ)
          .collect()),
      ("sq8", 3, () => AnnSearch.ivfSqKnn(spark, sf).collect()),
      ("pq-collect", 3, () =>
        AnnSearch.ivfPqSearchAt(spark, pq, queries, normed, 10, np, m, nk,
          40, 10L).collect()),
      ("pq-joined", 14, () =>
        AnnSearch.ivfPqSearchAt(spark, pq, queries, normed, 10, np, m, nk,
          40, joinQ).collect()),
      ("filtered", 2, () => AnnSearch.ivfFilteredKnn(spark, sf).collect()),
      // the small-Q beam: the query collect and at most two jobs per hop
      ("graph-collect", 5, () =>
        GraphAnn.graphSearchAt(spark, graph, queries, 10, ef, hops, 10L)
          .collect()),
      ("graph-joined", 27, () =>
        GraphAnn.graphSearchAt(spark, graph, queries, 10, ef, hops, joinQ)
          .collect()),
      // a warm snapshot: the ranking scan and the mapping lookup
      ("latest", 2, () =>
        StreamingIndex.searchLatest(spark, latest, query, 10).collect()))
    val over = cases.flatMap { case (name, ceiling, search) =>
      val jobs = jobsOf(search)
      Option.when(jobs > ceiling)(s"$name: $jobs jobs > ceiling $ceiling")
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
