package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._

/** Batch k-NN search — the Spark restatement of the reference's
  * `POST /search_drawing` (reference `main.py:138-165`): L2-normalize both
  * sides (`main.py:87`), rank candidates by squared-L2 ascending
  * (== cosine descending for unit vectors), take top-k per query, excluding
  * the query row itself (FAISS would return it at distance 0).
  *
  * Scale design (100 TB): the query side is always the small side — it is
  * broadcast, so the candidate scan is a single map-side pass with no
  * shuffle of the (huge) vector table; the only shuffle is the per-query
  * top-k window over Q·k-bounded candidates. For candidate pruning at scale
  * see [[AnnSearch]] (LSH buckets / IVF coarse quantizer).
  */
object VectorSearch {

  /** Normalized embeddings: (vec_id, v: array<double> unit-norm). */
  def normalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), l2Normalize(col("embedding")).as("v"))

  /** Rank (query_id, id, dist) pairs into the top-k result contract
    * (query_id, id, distance, rn) — the ONE ranking tail every search
    * variant shares, so tie-breaking (dist, then id) and output rounding
    * cannot drift between the exact, quantized and IVF paths. Plans as
    * `WindowGroupLimit` before the exchange (per-partition truncation to
    * k rows per query).
    */
  private[graft] def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"),
        round(col("dist"), 6).as("distance"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Approximate-distance candidate pruning: keep the `rerank` best rows
    * per query by `adist` (ties on id), carrying the query vector for the
    * subsequent exact rescore. Shared by every quantized path (SQ8,
    * IVF+SQ8, PQ) so the margin semantics cannot drift between them.
    * `adist` is NULL for degenerate rows (zero-norm/NaN vectors get NULL
    * scale/qv from [[Quantize.quantize]]); Spark's ASC default is NULLS
    * FIRST, which would rank them ahead of every real candidate and burn
    * rerank slots — asc_nulls_last matches DuckDB's ASC default and the
    * "NULL ranks last in any distance ordering" contract.
    */
  private[graft] def pruneCandidates(adist: DataFrame, rerank: Int,
                                     queries: Option[DataFrame] = None)
      : DataFrame = {
    val wr = Window.partitionBy("query_id")
      .orderBy(col("adist").asc_nulls_last, col("id"))
    // rank on SLIM rows: the d-dim query vector must not ride the rank
    // exchange — Q·candidates·d·8 B at width (~10 GB for 620k ADC rows
    // at d=2048; the round-17 append-assignment defect class, found
    // again by the deep×wide sharded-PQ leg). qu re-attaches AFTER the
    // prune: from the caller's Q-row query frame when supplied, else
    // from a map-side-combined first(qu) projection of the input (the
    // combiner emits ≤ Q rows per task, so the wide column never rides
    // an exchange either way — the price of omitting `queries` is one
    // re-evaluation of the input subplan, acceptable only where that
    // input is a checkpoint read).
    val qus = queries.getOrElse(
      adist.groupBy(col("query_id")).agg(first(col("qu")).as("qu")))
      .select(col("query_id"), col("qu"))
    adist.select(col("query_id"), col("id"), col("adist"))
      .withColumn("rr", row_number().over(wr))
      .filter(col("rr") <= rerank)
      .join(broadcast(qus), "query_id")
      .select(col("query_id"), col("qu"), col("id"))
  }

  /** Exact re-ranking of a bounded candidate set (query_id, qu, id)
    * against full-precision vectors: broadcast the candidates into one
    * map-side join with the vector table, then `rank` ([[topK]], or the
    * small-Q read's one-job [[FusedTopK.ranked]]).
    */
  private[operators] def rescoreTopK(cands: DataFrame, normed: DataFrame,
                                     k: Int,
                                     rank: (DataFrame, Int) => DataFrame =
                                       topK): DataFrame =
    rank(normed.select(col("vec_id").as("id"), col("v"))
      .join(broadcast(cands), "id")
      .select(col("query_id"), col("id"),
        squaredL2(col("qu"), col("v")).as("dist")), k)

  /** Exact top-k neighbors for each query vector (vec_id < nQueries).
    * Output: (query_id, id, distance, rn) ordered by (query_id, rn).
    */
  def knnSearch(spark: SparkSession, sfDir: String,
                nQueries: Int = 10, k: Int = 10): DataFrame = {
    val normed = normalized(spark, sfDir)
    val queries = normed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // broadcast(queries) → BroadcastNestedLoopJoin: one pass over candidates,
    // no shuffle of the big side.
    topK(normed.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        squaredL2(col("qv"), col("v")).as("dist")), k)
  }

  /** Exact METADATA-FILTERED top-k: the brute-force baseline of filtered
    * vector search ("nearest neighbors among vectors WHERE label = L" —
    * the reference's OCR-text column exists to be filtered on,
    * `main.py:112`). The predicate lands on the candidate side BEFORE the
    * distance join, and because it filters the raw table projection it
    * reaches the parquet scan as a pushed filter — the scan reads only
    * label-matching row groups, and the distance pass is over n·sel
    * candidates, not n. Queries are NOT filtered: any vector may ask for
    * its nearest neighbors within the filtered slice.
    */
  def knnSearchFiltered(spark: SparkSession, sfDir: String,
                        label: Int = 1, nQueries: Int = 10,
                        k: Int = 10): DataFrame = {
    val queries = normalized(spark, sfDir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cands = Tables.load(spark, sfDir, "embeddings")
      .filter(col("label") === label)
      .select(col("vec_id"), l2Normalize(col("embedding")).as("v"))
    topK(cands.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        squaredL2(col("qv"), col("v")).as("dist")), k)
  }

  /** Hashing-trick text embeddings: token-count vector over `dim` hash
    * buckets, L2-normalized — the deterministic, engine-portable stand-in
    * for a model-produced text embedding (the reference's declared
    * text-search intent, `README.md:19-22`; a real deployment swaps this
    * column for the model's).
    *
    * Shape is dim-branched (r18). At flagship widths (dim ≤
    * [[WideEmbedDimMax]], every in-repo caller) the count vector is ONE
    * dim-wide whole-stage-codegen HashAggregate — a `sum(when(j = k))`
    * column per bucket — keyed by doc alone: one exchange carrying
    * docs·dim doubles, no per-bucket key rows, no collect_list
    * (ObjectHashAggregate, non-codegen) assembly pass. Past that width
    * the generated code for a dim-wide aggregate explodes, so the wide
    * form yields to the O(1)-plan-width original: explode →
    * groupBy(doc_id, bucket) count → per-doc assembly of the dense
    * array via a (bucket → count) map — two partial aggregates whose
    * first shuffle carries ≤ doc·distinct-bucket rows. Both branches
    * emit bit-identical vectors: the entries are exact integer token
    * counts (doubles are exact below 2⁵³ whether summed as 1.0s or
    * counted then cast), absent buckets are 0.0 in each, and
    * l2Normalize sees the same array.
    */
  def textEmbed(docs: DataFrame, dim: Int = 16): DataFrame = {
    import graft.functions.TextHash.hash32
    val toks = TextAnalysis.tokensPos(docs)
      .select(col("doc_id"), pmod(hash32(col("tok")), lit(dim)).as("j"))
    if (dim <= WideEmbedDimMax) {
      val sums = (0 until dim).map(i =>
        sum(when(col("j") === i, 1.0).otherwise(0.0)).as(s"c$i"))
      toks.groupBy(col("doc_id"))
        .agg(sums.head, sums.tail: _*)
        .select(col("doc_id"),
          l2Normalize(array((0 until dim).map(i => col(s"c$i")): _*))
            .as("v"))
    } else {
      val counts = toks.groupBy(col("doc_id"), col("j"))
        .agg(count(lit(1)).cast("double").as("c"))
      counts.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("j"), col("c"))))
          .as("jc"))
        .select(col("doc_id"),
          l2Normalize(transform(sequence(lit(0), lit(dim - 1)),
            i => coalesce(element_at(col("jc"), i), lit(0.0)))).as("v"))
    }
  }

  /** Widest dim [[textEmbed]] plans as the one-exchange codegen
    * aggregate; above it the map-assembly form keeps plan width O(1).
    */
  private[graft] val WideEmbedDimMax = 64

  /** Text-embedding k-NN search: [[knnSearch]]'s broadcast-queries plan
    * over the [[textEmbed]] column — query docs are doc_id < nQueries,
    * ranked by squared L2 ascending, self excluded.
    */
  def textEmbedSearch(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 10,
                      dim: Int = 16): DataFrame = {
    val emb = textEmbed(
      Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text")),
      dim)
    val queries = emb.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("v").as("qv"))
    topK(emb.join(broadcast(queries), col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("id"),
        squaredL2(col("qv"), col("v")).as("dist")), k)
  }

  /** RAG retrieval at CHUNK granularity — the composition a retrieval
    * stack actually serves: [[graft.operators.TextAnalysis.chunkTokens]]'
    * overlapping token windows become the indexed units, each embedded
    * through the SAME [[textEmbed]] hashing-trick path as the whole-doc
    * entry, and the query doc's embedding retrieves the top-k chunks
    * corpus-wide (own-document chunks excluded). Chunk identity rides as
    * doc_id·10⁶ + chunk_ix — exact while chunks-per-doc < 10⁶, i.e. docs
    * under ~48M tokens at the default 48-token stride.
    *
    * Scale shape: chunking is a narrow explode + one keyed aggregate;
    * embedding is the textEmbed skinny-row pipeline over chunk keys; the
    * search is [[knnSearch]]'s broadcast-queries map pass with the
    * per-query WindowGroupLimit top-k. Nothing new shuffles beyond the
    * chunk aggregate — at 100 TB the chunk table replaces the doc table
    * as the scan side, everything else is the flagship plan.
    */
  /** Composite chunk key base: chunk id = doc_id·base + chunk_ix.
    * Shared by the batch entry, the streamed ingest twin and the
    * interpolated oracle — exact while chunks-per-doc < base.
    */
  val ChunkKeyBase = 1000000L

  def chunkEmbedSearch(spark: SparkSession, sfDir: String,
                       nQueries: Int = 10, k: Int = 10,
                       dim: Int = 16): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val cEmb = textEmbed(
      TextAnalysis.chunkTokens(docs, TextAnalysis.DefaultChunkSize,
        TextAnalysis.DefaultChunkStride)
        .select((col("doc_id") * ChunkKeyBase + col("chunk_ix"))
          .as("doc_id"), col("chunk_text").as("text")), dim)
    val qEmb = textEmbed(docs.filter(col("doc_id") < nQueries), dim)
      .select(col("doc_id").as("query_id"), col("v").as("qv"))
    chunkTopK(cEmb, qEmb, k)
  }

  /** The chunk-search tail — broadcast-queries k-NN over a (chunk-keyed
    * doc_id, v) embedding frame plus the composite-key decomposition;
    * the ONE seam the batch entry and the streamed chunk-indexing twin
    * share, so ranking/exclusion/rounding cannot drift between them.
    */
  private[graft] def chunkTopK(cEmb: DataFrame, qEmb: DataFrame,
                               k: Int): DataFrame =
    topK(cEmb.join(broadcast(qEmb),
        expr(s"doc_id div $ChunkKeyBase") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("id"),
        squaredL2(col("qv"), col("v")).as("dist")), k)
      .select(col("query_id"), expr(s"id div $ChunkKeyBase").as("doc_id"),
        (col("id") % ChunkKeyBase).as("chunk_ix"), col("distance"),
        col("rn"))
      .orderBy("query_id", "rn")

  /** MMR (Maximal Marginal Relevance) diversified re-ranking — the
    * standard second stage of a retrieval stack (Carbonell & Goldstein
    * 1998): from a bounded top-`nCandidates` relevance pool, greedily
    * pick k results maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` — relevance traded against
    * redundancy with what is already selected, so near-duplicate
    * neighbors (which a dedup-grade corpus is full of) stop crowding
    * out distinct results. Cosine IS the dot product here (unit vectors
    * from the one shared normalization).
    *
    * Shape: the pool comes from the SAME broadcast-queries candidate
    * pass and (dist, id) ranking tail as [[knnSearch]] — at scale the
    * pool stage swaps to the IVF probe exactly as
    * [[AnnSearch.ivfFilteredKnn]]'s candidate stage does. The greedy
    * selection is inherently sequential PER QUERY but independent
    * ACROSS queries: `groupByKey(query_id).flatMapGroups` holds one
    * Q-of-C-candidates group in memory at a time (C·dim doubles — KiB,
    * never corpus-bound) and distributes over queries, the one shape
    * `mapGroups` is genuinely for. Selection arithmetic (dot-product
    * fold in index order, `λ·qsim − (1.0−λ)·msim`, ties on id) is
    * written identically in the DuckDB oracle's unrolled greedy, so the
    * compare is exact, not floor-gated.
    */
  def mmrRerank(spark: SparkSession, sfDir: String,
                nQueries: Int = 10, k: Int = 10, nCandidates: Int = 50,
                lambda: Double = 0.7): DataFrame =
    mmrRerankOver(spark, normalized(spark, sfDir), nQueries, k,
      nCandidates, lambda)

  private[graft] def mmrRerankOver(spark: SparkSession, normed: DataFrame,
                                   nQueries: Int, k: Int,
                                   nCandidates: Int,
                                   lambda: Double): DataFrame = {
    import spark.implicits._
    val queries = normed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("id"))
    // qsim is computed PRE-shuffle by the codegen ArrayDot (bit-identical
    // to a fold-order JVM loop — the sql twin's parity spec pins it), so
    // the query vector never rides the group exchange: each pool row
    // ships (v, qsim), not (v, qv) — half the shuffled doubles
    val pool = normed
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"), col("v"),
        squaredL2(col("qv"), col("v")).as("dist"),
        graft.functions.VectorOps.dot(col("qv"), col("v")).as("qsim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCandidates)
      .select(col("query_id"), col("id"), col("v"), col("qsim"))
    mmrGreedy(spark, pool, k, lambda)
  }

  /** The greedy MMR selection tail over a `(query_id, id, v, qsim)`
    * candidate pool — extracted so the exact pool ([[mmrRerankOver]])
    * and the IVF-probed pool ([[AnnSearch.mmrRerankAnn]]) share ONE
    * selection arithmetic: any drift between the two entries would be a
    * pool difference, never a greedy difference. Per-query sequential,
    * across-query distributed; one Q-of-C group (C·dim doubles, KiB) in
    * memory at a time.
    */
  private[graft] def mmrGreedy(spark: SparkSession, poolDf: DataFrame,
                               k: Int, lambda: Double): DataFrame = {
    import spark.implicits._
    val pool = poolDf
      .select(col("query_id"), col("id"), col("v"), col("qsim"))
      .as[(Long, Long, Seq[Double], Double)]
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = a.length
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val picked = pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray
      // raw-copy the decoded vectors ONCE per group (the GraphAnn pair-
      // kernel lesson at d=2048): the encoder's runtime Seq gives no
      // O(1) apply guarantee, and the greedy loop reads each vector
      // O(k) times
      val vecs = cs.map(_._3.toArray)
      val qsim = cs.map(_._4)
      val maxSim = Array.fill(cs.length)(0.0)
      val taken = Array.fill(cs.length)(false)
      val lam = lambda
      (1 to math.min(k, cs.length)).iterator.map { r =>
        var best = -1; var bestScore = 0.0
        var i = 0
        while (i < cs.length) {
          if (!taken(i)) {
            val score = lam * qsim(i) - (1.0 - lam) * maxSim(i)
            if (best < 0 || score > bestScore ||
                (score == bestScore && cs(i)._2 < cs(best)._2)) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        taken(best) = true
        var j = 0
        while (j < cs.length) {
          if (!taken(j)) {
            val s = dot(vecs(j), vecs(best))
            // the first update ASSIGNS (a max over one selected vector,
            // which may be negative — seeding with 0.0 would clamp it
            // and diverge from the true max the oracle computes)
            if (r == 1 || s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        (qid, cs(best)._2, r.toLong, bestScore)
      }
    }
    picked.toDF("query_id", "id", "rank", "score")
      .select(col("query_id"), col("id"), col("rank"),
        round(col("score"), 6).as("mmr_score"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-distribution DRIFT gauge — the monitoring query a
    * production index runs between corpus snapshots: per-dimension
    * Population Stability Index between a REFERENCE slice and a CURRENT
    * slice (here the deterministic `vec_id % 2` halves — a real
    * deployment keys the slices on snapshot/ingest date; the COMPUTATION
    * is the deliverable). An embedding-model swap, an upstream
    * normalization change, or a source-mix shift shows up as high-PSI
    * dimensions long before recall gauges move, because PSI watches the
    * inputs, not the search outputs.
    *
    * Per dimension: 10 fixed-width bins over the reference's [lo, hi]
    * (out-of-range current values clamp into the edge bins; a constant
    * reference dimension degenerates to bin 0), add-ε smoothing
    * (ε = 0.5) so empty bins stay finite, and
    * `PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)` — ≥ 0, 0 iff identical binned
    * distributions. Every bin of the dim×bin grid is materialized
    * (missing bins still contribute when slice sizes differ).
    *
    * Scale: one posexplode to (n·dim) cells that partial-aggregates to
    * dim·bins groups map-side — the only shuffle carries ≤ 64·10 rows —
    * and the per-dim stats join is a broadcast of 64 rows. No
    * corpus-sized shuffle at any width.
    */
  def embeddingDrift(spark: SparkSession, sfDir: String,
                     nBins: Int = 10, eps: Double = 0.5): DataFrame =
    embeddingDriftOver(
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v")),
      nBins, eps)

  private[graft] def embeddingDriftOver(raw: DataFrame, nBins: Int,
                                        eps: Double): DataFrame = {
    val cells = driftCells(raw)
    psiVsReference(
      driftReference(cells.filter(col("side") === 0), nBins),
      cells.filter(col("side") === 1), nBins, eps)
  }

  /** (vec_id, dim, x, side) cells of a (vec_id, v) frame — side is the
    * deterministic `vec_id % 2` snapshot-slice stand-in.
    */
  private[graft] def driftCells(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("side", col("vec_id") % 2)

  /** The persistable REFERENCE half of the drift gauge: the full
    * dim×bin grid with the reference's bin edges and counts —
    * (dim, bin, lo, hi, rc). Tiny (dim·nBins rows), so a deployment
    * commits it once per snapshot and every later comparison (batch
    * re-slice or streaming micro-batch) broadcasts it.
    */
  private[graft] def driftReference(refCells: DataFrame,
                                    nBins: Int): DataFrame = {
    // two inherent passes (edges, then counts binned by those edges) —
    // stage the exploded cells so the corpus explode runs ONCE, not per
    // consumer (the recorded multi-consumer recompute pattern)
    val staged = refCells.localCheckpoint(true)
    val stats = staged.groupBy("dim")
      .agg(min("x").as("lo"), max("x").as("hi"))
    val counts = staged.join(broadcast(stats), "dim")
      .withColumn("bin", driftBin(nBins))
      .groupBy("dim", "bin").agg(count(lit(1)).as("rc"))
    stats
      .crossJoin(refCells.sparkSession.range(0, nBins)
        .select(col("id").as("bin")))
      .join(counts, Seq("dim", "bin"), "left")
      .select(col("dim"), col("bin"), col("lo"), col("hi"),
        coalesce(col("rc"), lit(0L)).as("rc"))
  }

  /** Per-dimension PSI of a CURRENT cell frame against a committed
    * reference grid — the comparison half, shared verbatim by the batch
    * gauge and the streaming per-micro-batch twin so the arithmetic
    * cannot drift between them. A bin empty on both sides still
    * contributes when the slice sizes differ (the smoothing masses
    * diverge).
    */
  private[graft] def psiVsReference(refGrid: DataFrame,
                                    curCells: DataFrame, nBins: Int,
                                    eps: Double): DataFrame = {
    val curCounts = curCells
      .join(broadcast(refGrid.select("dim", "lo", "hi").distinct()), "dim")
      .withColumn("bin", driftBin(nBins))
      .groupBy("dim", "bin").agg(count(lit(1)).as("cc"))
    val filled = refGrid.join(curCounts, Seq("dim", "bin"), "left")
      .select(col("dim"), col("bin"), col("rc").cast("double").as("rc"),
        coalesce(col("cc"), lit(0L)).cast("double").as("cc"))
    val tot = filled.groupBy("dim")
      .agg(sum("rc").as("nr"), sum("cc").as("ncur"))
    val se = nBins * eps
    filled.join(broadcast(tot), "dim")
      .select(col("dim"),
        ((col("rc") + eps) / (col("nr") + se)).as("p"),
        ((col("cc") + eps) / (col("ncur") + se)).as("q"))
      .groupBy("dim")
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
        .as("psi"))
      .select(col("dim").cast("long").as("dim"), col("psi"))
      .orderBy("dim")
  }

  /** The ONE bin expression both halves use: fixed-width reference bins,
    * out-of-range clamped into the edges, constant dims to bin 0.
    */
  private def driftBin(nBins: Int): org.apache.spark.sql.Column =
    when(col("hi") === col("lo"), lit(0L)).otherwise(
      greatest(lit(0L), least(lit((nBins - 1).toLong),
        floor((col("x") - col("lo")) /
          ((col("hi") - col("lo")) / nBins.toDouble)))))

  /** Per-vector L2 norm before normalization plus a post-normalization norm
    * check — standalone surface for the reference's `main.py:87` semantics.
    */
  def normalizeVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    emb.select(
        col("vec_id"),
        round(l2Norm(col("embedding")), 6).as("l2_norm"),
        round(l2Norm(l2Normalize(col("embedding"))), 6).as("unit_norm"))
      .orderBy("vec_id")
  }
}
