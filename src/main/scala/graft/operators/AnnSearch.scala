package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.functions.ArraySquaredL2
import graft.functions.VectorOps._
import graft.sources.IndexStore

/** Approximate nearest-neighbor search — the scale path for the flagship
  * k-NN (the reference's HNSW index, `main.py:60-62`, answers the same
  * query approximately; HNSW graphs don't distribute, so the Spark-native
  * analogs are LSH bucketing and IVF coarse quantization).
  *
  *  - LSH: `BucketedRandomProjectionLSH` (random hyperplane projections,
  *    Euclidean — the right metric since the reference L2-normalizes). At
  *    100 TB: candidates come from equi-joins on hash buckets; no all-pairs.
  *  - IVF: k-means coarse quantizer; vectors are partitioned by nearest
  *    centroid, queries probe the nprobe nearest partitions — Spark-native
  *    "partition pruning as index" (SURVEY.md §4.2). At 100 TB the cluster
  *    id becomes the physical partition/bucket key, so a probe touches
  *    nprobe/k of the data.
  *
  * Neither is SQL-expressible → no DuckDB oracle; correctness is gauged by
  * recall against the exact [[VectorSearch.knnSearch]] (see `ann_recall`
  * and the spec).
  */
object AnnSearch {

  /** IVF hyper-parameter auto-sizing. Every entry point takes explicit
    * overrides; 0 (the default) derives from the indexed table's size:
    *
    *  - nClusters ≈ √n (the FAISS nlist guideline): keeps BOTH the
    *    per-cluster scan (n/nlist rows) and the probe's centroid table
    *    (nlist rows) at O(√n), so neither side degenerates as n grows.
    *    Fixture n=500 → 22; at 10⁹ vectors → ~31.6k. Clamped to
    *    [4, 65536]: above ~65k hive partition dirs, file-listing cost
    *    dominates and the layout should move to hierarchical/bucketed
    *    partition keys (see SCALING.md).
    *  - nProbe = ⌈3/8 · nClusters⌉ at fixture scale — the probe FRACTION,
    *    not the count, is what fixes the recall point, so the default
    *    preserves the measured 16-cluster/6-probe operating point. (At
    *    true 100 TB scale operators tune this down: recall-per-probe
    *    rises with cluster count.)
    */
  private[graft] def autoClusters(n: Long): Int =
    math.max(4, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))

  private[graft] def autoProbe(nClusters: Int): Int =
    math.max(1, (nClusters * 3 + 7) / 8)

  /** A fixture table's row count for auto-sizing, one count job per
    * table fingerprint ([[IndexStore.cached]]) — every default-parameter
    * query would otherwise re-count the LARGEST table just to re-derive
    * the name of an already-built index.
    */
  private[graft] def tableCount(spark: SparkSession, sfDir: String,
                                table: String): Long =
    IndexStore.cached("tableCount", s"$sfDir#$table",
      IndexStore.FromSource(sfDir, Seq(table)))(
      Tables.load(spark, sfDir, table).count())
  private[graft] def embeddingCount(spark: SparkSession,
                                    sfDir: String): Long =
    tableCount(spark, sfDir, "embeddings")

  private def resolveClusters(spark: SparkSession, sfDir: String,
                              nClusters: Int): Int =
    if (nClusters > 0) nClusters
    else autoClusters(embeddingCount(spark, sfDir))

  private def resolveProbe(nClusters: Int, nProbe: Int): Int =
    if (nProbe > 0) nProbe else autoProbe(nClusters)

  private def normalizedVec(spark: SparkSession, sfDir: String): DataFrame =
    VectorSearch.normalized(spark, sfDir)
      .select(col("vec_id"), array_to_vector(col("v")).as("features"),
        col("v"))

  /** Approximate top-k via LSH similarity join + per-query ranking. */
  def lshKnn(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 10): DataFrame = {
    // no .cache(): these frames are small and caching here would pin a
    // copy per call for the session lifetime (no unpersist hook before
    // the caller's action)
    val data = normalizedVec(spark, sfDir)
    val queries = data.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(0.8)
      .setNumHashTables(6)
      .setSeed(42L)
      .setInputCol("features")
      .setOutputCol("hashes")
    val model = lsh.fit(data)
    val joined = model.approxSimilarityJoin(
        model.transform(queries), model.transform(data), 2.0, "dist")
      .select(col("datasetA.query_id").as("query_id"),
        col("datasetB.vec_id").as("id"), col("dist"))
      .filter(col("query_id") =!= col("id"))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"),
        round(col("dist") * col("dist"), 6).as("distance"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Build (once) the persisted IVF index: fit the k-means coarse
    * quantizer, then write
    *  - `dir/centroids` — (cluster, center) parquet, k·d doubles, and
    *  - `dir/vectors` — the vector table PARTITIONED BY cluster id
    *    (hive-style directories), so a probe's `cluster IN (...)` filter
    *    becomes file-source partition pruning: only probed clusters' files
    *    are ever read.
    *
    * This is the Spark restatement of the reference's build-once index
    * (`main.py:55-63` load-or-init, `main.py:168-173` persist): the fit
    * runs in the build job, never in a query. (Directory partitioning is
    * chosen over writer bucketing because IVF wants partition PRUNING —
    * bucketing co-locates joins but prunes nothing.)
    */
  def buildIvfIndex(spark: SparkSession, sfDir: String,
                    nClusters: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivf$nc-v1", "embeddings")
    buildIvfOver(spark, normalizedVec(spark, sfDir), nc, dir,
      knownN = embeddingCount(spark, sfDir))
    dir
  }

  /** The IVF build proper over an EXPLICIT normalized corpus
    * (vec_id, v [, features]) into an explicit dir — shared by the
    * fixture build and the REFIT path ([[ivfRefitViolations]]), so a
    * refit can never drift from the primary build in fit parameters or
    * layout.
    */
  /** FAISS-practice k-means TRAINING-SAMPLE bound
    * (`Clustering.max_points_per_centroid = 256`, faiss/Clustering.cpp):
    * fitting on more than ~256·k points adds cost, not centroid
    * quality, so a fit above the bound trains on a deterministic
    * hash-sample of ≈ that many rows while the assign/encode pass still
    * covers EVERY row. Without it the coarse-quantizer fit is a
    * 5-iteration k-means over the whole corpus — at the deep×wide point
    * (n=500k, d=2048, k=√n≈707) that is ~3.6·10¹² multiplies for
    * centroids a 181k-row sample determines just as well, and at 100 TB
    * it is the difference between a feasible training job and a fit
    * that scans the corpus five times.
    *
    * Determinism: the filter keys on `xxhash64(vec_id)` — a pure
    * function of the id — so the sample (and therefore the fit) is
    * reproducible at any partitioning or ingest order. Corpora at or
    * under the bound take stride 1 = the IDENTICAL full fit: every
    * committed fixture artifact keeps its bytes.
    */
  private[graft] def fitSample(data: DataFrame, n: Long, k: Int,
                               maxPerCentroid: Int = 256): DataFrame = {
    val target = math.max(1L, maxPerCentroid.toLong * k)
    val stride = math.max(1L, n / target)
    if (stride <= 1L) data
    else data.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
  }

  /** `knownN`: the corpus row count when the CALLER already holds it
    * (a cached table count, a checkpointed union's count, or the
    * hash-balanced per-shard expectation ⌈n/K⌉ — hash-mod slices
    * deviate from it by O(√(n/K)), immaterial to [[fitSample]]'s
    * 256·k heuristic bound). −1 counts here; passing it saves one full
    * corpus scan per build — at a deep×wide corpus that scan is real
    * I/O spent only to size a sampling stride.
    */
  private[graft] def buildIvfOver(spark: SparkSession,
                                      corpus: DataFrame,
                                      nClusters: Int, dir: String,
                                      knownN: Long = -1L): Unit = {
    import spark.implicits._
    val data =
      if (corpus.columns.contains("features")) corpus
      else corpus.select(col("vec_id"),
        array_to_vector(col("v")).as("features"), col("v"))
    val km = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cluster")
    // fit on the sample bound, assign the full corpus below
    val n = if (knownN >= 0L) knownN else data.count()
    val model = km.fit(fitSample(data, n, nClusters))
    val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    IndexStore.saveDataset(centers.toDF("cluster", "center"),
      s"$dir/centroids")
    model.transform(data)
      .select(col("vec_id"), col("v"), col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$dir/vectors")
  }

  /** Probe strategy switch: up to this many queries the probe runs on
    * the driver over the collected queries (`isin` literals → static
    * PartitionFilters — the cheapest plan when the probe set is a few
    * MB) and the read is one scan job ([[FusedTopK]]); above it the search
    * keeps the probe DISTRIBUTED and lets dynamic partition pruning do
    * the same file-level pruning ([[probeScan]]). What this
    * switch removes is the driver-side COLLECT of Q·d doubles plus
    * Q·nprobe assignment rows (at d=2048 ~16 KB per query: 1024 queries
    * ≈ 16 MB fine, a 10⁶-query batch ~16 GB — a driver OOM). The joined
    * strategy still BROADCASTS the probe frame — which stages it through
    * the driver too — until [[BroadcastProbeByteLimit]], above which the
    * hint drops and the join shuffles; the two bounds together are what
    * make the claim "never stages Q·d doubles on the driver" true at any
    * Q. Same control-plane-count pattern as
    * [[graft.operators.Dedup.autoPairedBands]]: the safe-at-scale mode
    * engages automatically, not by opt-in.
    */
  private[graft] val JoinProbeQueryThreshold = 1024L

  /** Staging ceiling for BROADCASTING the probe side of the joined
    * strategy, in bytes of query-vector payload (Q·nprobe·d·8): a
    * broadcast exchange still collects the whole probe frame to the
    * driver and replicates it to every executor, so the joined strategy
    * alone only relocates the Q·d staging, it doesn't remove it. Above
    * this bound the hint is dropped and the probe-vector join plans as a
    * shuffle join: file-level pruning (DPP) is lost, but at that Q the
    * probe set touches essentially every cluster anyway — with
    * Q·nprobe ≫ k clusters there is nothing left to prune, and the
    * shuffle join is the plan a 10⁶-query batch needs to survive.
    * 1 GiB: comfortably under both the 8 GiB broadcast-relation cap and
    * a typical driver/executor memory share.
    */
  private[graft] val BroadcastProbeByteLimit = 1L << 30

  /** Vector dimensionality read from the tiny centroid table (one-row
    * control-plane read) — the joined strategy needs it to price the
    * probe payload against [[BroadcastProbeByteLimit]].
    */
  private def centroidDim(centersDf: DataFrame): Int =
    centersDf.select(col("center")).head.getSeq[Double](0).length

  /** The probe side of the joined strategy: broadcast while the staged
    * payload (`d` doubles per probe row) is bounded, shuffle once it
    * isn't.
    */
  private def probeSide(probes: DataFrame, expectedQ: Long, nProbe: Int,
                        d: Int): DataFrame =
    // compare by division so an enormous expectedQ cannot overflow the
    // product into a negative (which would silently keep the broadcast)
    if (expectedQ > BroadcastProbeByteLimit /
          math.max(1L, nProbe.toLong * d * 8L)) probes
    else broadcast(probes)

  /** nprobe nearest centroids per query as a LAZY plan (tiny crossJoin:
    * Q × k centroids, k = O(√n)) — the joined strategy's probe; the
    * small-Q driver probe ([[querySide]]) ranks by the same (cdist,
    * cluster) order with the same distance kernel.
    */
  private def probeFrame(queries: DataFrame, centersDf: DataFrame,
                         nProbe: Int): DataFrame =
    probeFrameRanked(queries, centersDf)
      .filter(col("cr") <= nProbe)
      .select(col("query_id"), col("qu"), col("cluster"))

  /** [[probeFrame]] WITHOUT the nprobe cut, keeping the per-query probe
    * rank `cr`: probe sets are NESTED in the rank (cr ≤ p ⊆ cr ≤ p′ for
    * p ≤ p′), which is what lets an operating-point sweep derive every
    * nprobe point from ONE materialized full-probe frame
    * ([[annRecallCurve]]).
    */
  private def probeFrameRanked(queries: DataFrame,
                               centersDf: DataFrame): DataFrame = {
    val wc = Window.partitionBy("query_id")
      .orderBy(col("cdist"), col("cluster"))
    queries.crossJoin(broadcast(centersDf))
      .withColumn("cdist", squaredL2(col("qu"), col("center")))
      .withColumn("cr", row_number().over(wc))
      .select(col("query_id"), col("qu"), col("cluster"), col("cr"))
  }

  /** A committed centroid table's (cluster, center) rows on the driver,
    * loaded once per committed path ([[IndexStore.cached]]): the small-Q
    * probe and the append's dimension check read them without a job.
    */
  private def centroidRows(spark: SparkSession,
                           path: String): Array[(Int, ArrayData)] =
    IndexStore.cached("centroidRows", path, IndexStore.AtPath(path))(
      IndexStore.readCached(spark, path)
        .select(col("cluster"), col("center")).collect()
        .map(r => (r.getInt(0), Quantize.arrayData(r.get(1)))))

  /** The small-Q read's driver side ([[QuerySide]]), built without a job
    * beyond collecting the ≤ [[JoinProbeQueryThreshold]] query rows:
    *  - each query's `nProbe` nearest centroids in [[probeFrame]]'s
    *    window order — (squared L2, cluster), NULL distances first — by
    *    the one left-fold kernel [[ArraySquaredL2]] evaluates;
    *  - PQ's per-query lookup tables ([[Quantize.pqLut]]), bit-identical
    *    to the distributed [[Quantize.pqLutsAt]];
    *  - the version's tombstoned ids.
    * Centroids, codebooks and tombstones are cached per committed path.
    */
  private def querySide(spark: SparkSession, layout: IvfLayout,
                        queries: DataFrame, nProbe: Int,
                        luts: Option[PqLuts]): QuerySide = {
    val rows = queries.select(col("query_id"), col("qu")).collect()
      .filterNot(_.isNullAt(0))
    require(rows.length <= JoinProbeQueryThreshold,
      s"small-Q read collected ${rows.length} query rows (> " +
        s"JoinProbeQueryThreshold=$JoinProbeQueryThreshold) - pass the " +
        "query count as expectedQ so the joined plan runs instead")
    val qus = rows.map(r => Quantize.arrayData(r.get(1)))
    val centers = centroidRows(spark, layout.centroids)
    val probes = qus.map(qu => centers.map { case (c, center) =>
      val d = if (qu == null) null
              else ArraySquaredL2.kernel(qu, center, checkNulls = true)
      FusedTopK.Cand(c, if (d == null) 0.0 else d.asInstanceOf[Double],
        d == null)
    }.sorted(FusedTopK.ordering(nullsLast = false))
      .take(math.max(0, nProbe)).map(_.id))
    val books = luts.map(l =>
      (l, Quantize.codebookRows(spark, layout.codebooks.get)))
    val sideRows = rows.indices.map { i =>
      new GenericInternalRow(Array[Any](rows(i).getAs[Number](0).longValue,
        qus(i)) ++ books.map { case (l, b) =>
          UnsafeArrayData.fromPrimitiveArray(Quantize.pqLut(b, qus(i), l.m,
            l.nk)) }): InternalRow
    }.toArray
    new QuerySide(sideRows,
      probes.zipWithIndex.flatMap { case (cs, q) => cs.map((_, q)) }
        .groupBy(_._1).map { case (c, qs) => c -> qs.map(_._2) },
      layout.tombstones.flatMap(IndexStore.tombstoneIds(spark, _)).toSet)
  }

  private def queryVectors(spark: SparkSession, sfDir: String,
                           nQueries: Int): DataFrame =
    normalizedVec(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qu"))

  /** IVF-style approximate top-k against the PERSISTED index
    * (load-or-build): nprobe nearest centroids per query from the tiny
    * persisted centroid table, then candidates read only from
    * the probed cluster partitions. Above [[JoinProbeQueryThreshold]]
    * queries the probe auto-switches from the driver-side probe to the
    * broadcast-probe-join + dynamic-partition-pruning plan
    * ([[probeScan]]) so a batch-query run never stages Q·d doubles on
    * the driver.
    */
  def ivfKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             k: Int = 10, nClusters: Int = 0, nProbe: Int = 0): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    searchIndexAt(spark, dir, queryVectors(spark, sfDir, nQueries), k,
      resolveProbe(nc, nProbe), expectedQ = nQueries.toLong)
  }

  /** An IVF index's code format — FAISS's split of the coarse quantizer
    * and inverted lists (`IndexIVF`, the lifecycle) from the codes the
    * lists hold (`index_factory("IVF{n},Flat")` vs `"IVF{n},PQ{m}"`).
    * The write lifecycle ([[appendAt]], [[deleteAt]]) and its gates are
    * written once over this seam; a codec supplies only what differs:
    * its manifest data kind, the encode of centroid-assigned rows, its
    * search, its refit, and its codec-only gate checks.
    */
  private[graft] sealed abstract class IvfCodec(val data: String) {
    /** The version dir-name stem at `nc` clusters. */
    def name(nc: Int): String
    /** Version suffix of the append gates' committed dirs. */
    def appVersion: Int
    /** The fixture's build-once base version at `nc` clusters. */
    def base(spark: SparkSession, sfDir: String, nc: Int): String
    /** Data rows (vec_id, payload, cluster) of centroid-assigned
      * (vec_id, v, cluster) rows.
      */
    def encode(spark: SparkSession, base: IvfLayout,
               assigned: DataFrame): DataFrame
    /** Top-k (query_id, id, …) over the version at `dir`; `corpus` is
      * the full-precision rescore corpus the version indexes.
      */
    def search(spark: SparkSession, dir: String, queries: DataFrame,
               corpus: DataFrame, k: Int, nProbe: Int,
               expectedQ: Long): DataFrame
    /** The refit index over the grown `union` of `n` rows, on the shared
      * centroid refit at `ivfDir` (`nc` clusters): (codec, dir).
      */
    def refit(spark: SparkSession, sfDir: String, union: DataFrame,
              n: Long, nc: Int, ivfDir: String): (IvfCodec, String)
    /** Rows a well-formed version never holds (PQ: a code array that is
      * not m wide); the append and refit gates report their count as
      * `code_width`.
      */
    def malformed: Option[Column] = None
    /** Whether the delete gate also compacts the deleted version. */
    def compacts: Boolean = false
  }

  private[graft] case object FlatCodec extends IvfCodec("vectors") {
    def name(nc: Int): String = s"ivf$nc"
    def appVersion: Int = 3
    def base(spark: SparkSession, sfDir: String, nc: Int): String =
      loadOrBuildIvf(spark, sfDir, nc)
    def encode(spark: SparkSession, base: IvfLayout,
               assigned: DataFrame): DataFrame = assigned
    def search(spark: SparkSession, dir: String, queries: DataFrame,
               corpus: DataFrame, k: Int, nProbe: Int,
               expectedQ: Long): DataFrame =
      searchIndexAt(spark, dir, queries, k, nProbe, expectedQ)
    def refit(spark: SparkSession, sfDir: String, union: DataFrame,
              n: Long, nc: Int, ivfDir: String): (IvfCodec, String) =
      (this, ivfDir)
    override def compacts: Boolean = true
  }

  /** PQ codes of `m` subspaces × `nk` codebook centers, scanned by ADC
    * and rescored over the candidate margin.
    */
  private[graft] final case class PqCodec(m: Int, nk: Int)
      extends IvfCodec(PqCodec.Data) {
    def name(nc: Int): String = s"ivfpq$nc-$m-$nk"
    def appVersion: Int = 2
    def base(spark: SparkSession, sfDir: String, nc: Int): String =
      buildIvfPqIndex(spark, sfDir, nc, m, nk)
    def encode(spark: SparkSession, base: IvfLayout,
               assigned: DataFrame): DataFrame =
      pqEncode(spark, base.codebooks.get, assigned, m, nk)
    def search(spark: SparkSession, dir: String, queries: DataFrame,
               corpus: DataFrame, k: Int, nProbe: Int,
               expectedQ: Long): DataFrame =
      ivfPqSearchAt(spark, dir, queries, corpus, k, nProbe, m, nk,
        rerank = 40, expectedQ = expectedQ)
    // codebooks re-trained over the grown corpus through the one PQ
    // build path, composed onto the shared centroid refit
    def refit(spark: SparkSession, sfDir: String, union: DataFrame,
              n: Long, nc: Int, ivfDir: String): (IvfCodec, String) = {
      val c = PqCodec(m, Quantize.codesFor(n))
      val pqDir = IndexStore.indexDir(sfDir, s"pq$m-${c.nk}-refit-v2",
        "embeddings")
      Quantize.buildPqOver(spark, union, m, c.nk, pqDir)
      val dir = IndexStore.indexDir(sfDir, s"${c.name(nc)}-refit-v2",
        "embeddings")
      if (!ivfLayout(spark, dir, data).committed)
        composeIvfPq(spark, ivfDir, pqDir, dir)
      (c, dir)
    }
    override def malformed: Option[Column] = Some(size(col("codes")) =!= m)
  }
  private[graft] object PqCodec { val Data = "codes" }

  /** One IVF version's artifacts: centroids, the codebooks (PQ only),
    * the seq-ordered `data` segments (`vectors` or `codes`) and the
    * tombstone segments. Two layouts share every read and write path:
    *
    *  - PLAIN (the build-once fixture index): `dir/centroids` (+
    *    `dir/codebooks`) + `dir/<data>` — one segment, no tombstones;
    *  - MANIFESTED (appended or deleted versions): `dir/manifest` lists
    *    the segments by absolute path — the predecessor's segments
    *    re-referenced plus the version's own batch or tombstone segment
    *    ([[IndexStore.writeManifest]]).
    */
  private[graft] final case class IvfLayout(data: String, centroids: String,
                                            codebooks: Option[String],
                                            segments: Seq[String],
                                            tombstones: Seq[String]) {
    /** Every artifact and data segment is committed: a valid base. */
    def committed: Boolean =
      (centroids +: (codebooks.toSeq ++ segments))
        .forall(IndexStore.committed)

    /** The manifest rows of a successor version that keeps these
      * centroids and codebooks.
      */
    def successor(segs: Seq[String], tombs: Seq[String])
        : Seq[(String, String, Long)] =
      (("centroids", centroids, 0L) +:
        codebooks.map(("codebooks", _, 0L)).toSeq) ++
        segs.zipWithIndex.map { case (s, i) => (data, s, i.toLong) } ++
        tombs.zipWithIndex.map { case (s, i) => ("tombstones", s, i.toLong) }
  }

  /** THE layout reader of every IVF version, flat or PQ (`data` is the
    * codec's data kind). A delete version's tombstones are O(batch)
    * segments of bare vec_ids — the DELETE half of the index lifecycle
    * (the reference wraps its index in `IndexIDMap`, `main.py:60-62`,
    * precisely so entries are id-addressable — FAISS's `remove_ids`).
    */
  private[graft] def ivfLayout(spark: SparkSession, dir: String,
                               data: String = FlatCodec.data): IvfLayout =
    if (IndexStore.committed(s"$dir/manifest")) {
      val entries = IndexStore.readManifest(spark, dir)
      def segs(kind: String) = IndexStore.manifestSegments(entries, kind)
      IvfLayout(data, segs("centroids").head, segs("codebooks").headOption,
        segs(data), segs("tombstones"))
    } else IvfLayout(data, s"$dir/centroids",
      Option.when(data == PqCodec.Data)(s"$dir/codebooks"),
      Seq(s"$dir/$data"), Nil)

  /** The version's full vector table: union of its immutable segments.
    * Each segment is hive-partitioned by cluster, and a `cluster IN`
    * filter above the union is pushed into EVERY branch's scan
    * (PushDownPredicates through Union), so probe-time partition pruning
    * survives the segmented layout unchanged. NOTE: raw rows — includes
    * rows masked by tombstones; [[ivfLiveVectors]] is the resolved view.
    */
  private[graft] def ivfVectors(spark: SparkSession, dir: String): DataFrame =
    IndexStore.readUnion(spark, ivfLayout(spark, dir).segments)

  /** The version's cluster count, cached per committed centroids path
    * ([[IndexStore.cached]]): saturated readers (`nProbe = -1`) derive it
    * per dir, and without the cache a K-shard scatter-gather pays K count
    * jobs per call for a number that never changes.
    */
  private[graft] def clusterCountAt(spark: SparkSession,
                                    dir: String): Int = {
    val cPath = ivfLayout(spark, dir).centroids
    IndexStore.cached("clusterCount", cPath, IndexStore.AtPath(cPath))(
      IndexStore.readCached(spark, cPath).count().toInt)
  }

  /** Drop tombstone-masked rows from a candidate/vector frame keyed by
    * `idCol` — THE one exclusion seam every read path shares (searches,
    * live counts, compaction), so masking semantics cannot drift. The
    * tombstone set is a broadcast anti-join side: it is O(deletes-since-
    * compaction), and the same `maxSegments` compaction policy that
    * bounds the vector chain folds tombstones away ([[compactIvfTo]] and
    * the in-chain fold both resolve them physically), so the broadcast
    * stays bounded at scale. When the version carries no tombstones the
    * frame is returned UNTOUCHED — the plan (and the bit-identity and
    * DPP plan-shape specs over undeleted versions) is unchanged.
    *
    * Masking is id-global, not seq-aware: a tombstone hides the id in
    * EVERY vector segment of the version chain, so re-adding a deleted
    * id requires compacting the tombstone away first (matching the
    * reference, which never re-uses a faiss_id: `main.py:129-130`
    * allocates fresh dense ids).
    */
  private def excludeTombstoned(spark: SparkSession, tombstones: Seq[String],
                                rows: DataFrame,
                                idCol: String = "vec_id"): DataFrame =
    if (tombstones.isEmpty) rows
    else rows.join(
      broadcast(IndexStore.readUnion(spark, tombstones)
        .select(col("vec_id").as(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** A version's LIVE data rows (vectors or codes): raw segments minus
    * tombstoned ids — what searches rank over and what "the index holds"
    * means once deletes exist.
    */
  private def liveRows(spark: SparkSession, layout: IvfLayout): DataFrame =
    excludeTombstoned(spark, layout.tombstones,
      IndexStore.readUnion(spark, layout.segments))

  private[graft] def ivfLiveVectors(spark: SparkSession, dir: String,
                                    data: String = FlatCodec.data)
      : DataFrame =
    liveRows(spark, ivfLayout(spark, dir, data))

  /** PQ's per-query side of a probe-and-scan: ADC lookup tables over `m`
    * subspaces × `nk` codes, built from the version's codebooks — or,
    * on the joined plan, the caller's `given` table (one table shared by
    * a sharded read's K dirs, whose codebooks are copies of one another).
    */
  private final case class PqLuts(m: Int, nk: Int, given: Option[DataFrame])

  /** THE IVF probe-and-scan of every code format — FAISS's `IndexIVF`
    * search (`main.py:138-165`), with the code format entering only as
    * the caller's `score` column over the joined (query_id, qu[, lut],
    * scanned row…) rows, ranked per query by (score, id). It returns the
    * top `keep` as a flat read's result rows (query_id, id, distance,
    * rn), or, with `margin`, as a quantized read's exact-rescore margin
    * (query_id, qu, id), NULL scores last. Flat, SQ8, PQ and filtered
    * searches differ only in that column and the tail, so probe
    * tie-breaking, strategy choice, broadcast pricing, segment fan-out
    * and masking can never drift between them.
    *
    *  - up to [[JoinProbeQueryThreshold]] queries (`expectedQ`, the
    *    caller's known query count — a filter literal at every call
    *    site, never a count job) the read runs as ONE scan job
    *    ([[FusedTopK]]): the probe, PQ's LUTs and the tombstone set are
    *    computed on the driver ([[querySide]]); the probed cluster ids
    *    become `isin` literals on the union scan (static
    *    PartitionFilters, pushed into every segment); each scan task
    *    scores its rows against the queries probing their cluster and
    *    keeps a bounded per-query heap, and one task merges the heaps —
    *    no window, rank or sort stage, no tombstone job;
    *  - above it the probe stays a DISTRIBUTED plan ([[probeFrame]])
    *    and becomes the broadcast side of an equi-join on the PARTITION
    *    column, so dynamic partition pruning closes the same file-level
    *    pruning without staging Q·d doubles on the driver (the plan
    *    [[sqlAnnIvf]]'s BROADCAST hint produces). The join runs PER
    *    SEGMENT with the union ABOVE it — DPP attaches to a partitioned
    *    file scan, not to a Union; the probe side's exchange is planned
    *    once and reused across branches — and above
    *    [[BroadcastProbeByteLimit]] of staged payload the broadcast hint
    *    drops ([[probeSide]]). PQ's LUTs ride the probe side, priced
    *    into that bound with the query vector; tombstones are anti-joined
    *    on the unioned candidates; the window tails
    *    ([[VectorSearch.topK]], [[VectorSearch.pruneCandidates]]) rank;
    *  - `rowFilter`: a predicate on the scanned rows (the filtered
    *    index's `label = L`), pushed into the same partition scan.
    */
  private def probeScan(spark: SparkSession, layout: IvfLayout,
                        queries: DataFrame, nProbe: Int, expectedQ: Long,
                        score: Column, keep: Int, margin: Boolean,
                        luts: Option[PqLuts] = None,
                        rowFilter: Option[Column] = None): DataFrame = {
    def scan(rows: DataFrame) = rowFilter.fold(rows)(rows.filter)
    if (expectedQ <= JoinProbeQueryThreshold) {
      val side = querySide(spark, layout, queries, nProbe, luts)
      val top = FusedTopK.probed(spark, side, queries.schema("qu").dataType,
        luts.isDefined, scan(IndexStore.readUnion(spark, layout.segments)
          .filter(col("cluster").isin(side.clusters: _*))),
        score, keep, nullsLast = margin)
      if (margin) top.select(col("query_id"), col("qu"), col("id"))
      else top.select(col("query_id"), col("id"),
        round(col(top.columns(3)), 6).as("distance"), col("rn"))
    } else {
      val centersDf = IndexStore.readCached(spark, layout.centroids)
      val side = luts.map(l => l.given.getOrElse(Quantize.pqLutsAt(spark,
        layout.codebooks.get, queries, l.m, l.nk)
        .select(col("query_id"), col("lut"))))
      val probes = probeFrame(queries, centersDf, nProbe)
      val p = probeSide(side.fold(probes)(probes.join(_, "query_id")),
        expectedQ, nProbe,
        centroidDim(centersDf) + luts.fold(0)(l => l.m * l.nk))
      val cands = excludeTombstoned(spark, layout.tombstones,
        layout.segments.map(seg =>
          p.join(scan(IndexStore.readCached(spark, seg)), "cluster")
            .filter(col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("qu"), col("vec_id").as("id"),
              score))
          .reduce(_ unionAll _), "id")
      if (margin) VectorSearch.pruneCandidates(cands, keep, Some(queries))
      else VectorSearch.topK(cands.drop("qu"), keep)
    }
  }

  /** The exact rescore of a quantized read's margin against `normed`,
    * ranked by the tail of the probe strategy `expectedQ` chose.
    */
  private def rescore(margin: DataFrame, normed: DataFrame, k: Int,
                      expectedQ: Long): DataFrame =
    VectorSearch.rescoreTopK(margin, normed, k,
      if (expectedQ <= JoinProbeQueryThreshold) FusedTopK.ranked
      else VectorSearch.topK)

  /** Flat IVF top-k against an EXPLICIT (possibly manifested or
    * tombstoned) index dir: exact squared L2 over the probed rows,
    * ranked by (distance, id). The one flat read of every caller
    * — fixture search, lifecycle gates, streaming chains, time travel,
    * shard legs and the benchmark — so none can drift in probe
    * tie-breaking or candidate shaping.
    */
  private[graft] def searchIndexAt(spark: SparkSession, dir: String,
                                   queries: DataFrame, k: Int,
                                   nProbe: Int, expectedQ: Long): DataFrame =
    probeScan(spark, ivfLayout(spark, dir), queries, nProbe, expectedQ,
      squaredL2(col("qu"), col("v")).as("dist"), k, margin = false)

  /** Load-or-build gate for the persisted IVF index — the ONE place the
    * committed-artifact check lives (three call sites would otherwise
    * each have to learn about any new artifact added to the layout).
    */
  private def loadOrBuildIvf(spark: SparkSession, sfDir: String,
                             nClusters: Int): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivf$nc-v1", "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors"))
      buildIvfIndex(spark, sfDir, nc)
    dir
  }

  def appendToIvfIndex(spark: SparkSession, sfDir: String,
                       batch: DataFrame, out: String,
                       nClusters: Int = 0): Unit =
    appendToIvfIndexAt(spark, loadOrBuildIvf(spark, sfDir, nClusters),
      batch, out)

  /** Nearest-existing-centroid assignment of one append batch — THE one
    * seam of [[appendAt]], so assignment semantics cannot drift across
    * codecs. Returns (vec_id, v-normalized, cluster), one row per BATCH
    * row (duplicate ids stay distinct via a per-row uid — FAISS
    * `add_with_ids` semantics).
    *
    * Shape that scales (round-17, found by the deep×wide STREAMED tier
    * — the same class the round-15 wide ladder caught in the PQ encode,
    * [[pqEncode]]): the previous cut ranked the batch × nc candidate
    * blowup with a window whose every row carried BOTH d-dim arrays
    * (batch vector + centroid), so the rank shuffle moved
    * batch·nc·2d·8 B — ~450 GB for two 10k-row triggers at nc=707,
    * d=2048; invisible at d=64. Here the blowup rows are projected SLIM
    * (uid, cluster, cdist — ~24 B) before any shuffle: the argmin
    * aggregates min(struct(cdist, cluster)) over slim rows (the
    * window's exact (cdist, cluster)-ascending tiebreak, bit-identical
    * assignments), and the winning cluster broadcast-joins back to the
    * checkpointed batch. In-flight payload is O(batch·nc) slim rows +
    * O(batch) wide rows — the d-dim arrays never ride the blowup
    * through an exchange or a sort. The uid'd batch is checkpointed so
    * the argmin pass and the re-join see the SAME generated ids, and
    * released before return; the returned frame is itself checkpointed
    * (callers release it after their version write).
    */
  private[graft] def assignToCentroids(spark: SparkSession,
                                       batch: DataFrame,
                                       centersDf: DataFrame): DataFrame = {
    val uid = batch
      .select(col("vec_id"), l2Normalize(col("v")).as("v"))
      .withColumn("uid", monotonically_increasing_id())
      .localCheckpoint(true)
    try {
      val best = uid
        .crossJoin(broadcast(centersDf))
        .select(col("uid"), col("cluster"),
          squaredL2(col("v"), col("center")).as("cdist"))
        .groupBy(col("uid"))
        .agg(min(struct(col("cdist"), col("cluster"))).as("best"))
        .select(col("uid"), col("best").getField("cluster").as("cluster"))
      uid.join(broadcast(best), "uid")
        .select(col("vec_id"), col("v"), col("cluster"))
        .localCheckpoint(true)
    } finally Checkpoints.release(uid)
  }

  /** Incremental add to a persisted IVF version, written ONCE for every
    * codec — the reference's `index.add_with_ids` (`main.py:134`)
    * applied to the scale layout: new vectors are assigned to their
    * NEAREST EXISTING centroid (no refit — exactly how FAISS IVF adds
    * work), encoded by the codec (flat: as-is; PQ: with the FROZEN
    * codebooks, [[pqEncode]]), and a NEW index version is produced at
    * `out` as a MANIFEST: the predecessor's immutable data segments are
    * re-referenced by path, the batch is written as ONE new
    * cluster-partitioned segment, and centroids (and codebooks) are
    * shared unchanged. Both compute AND I/O are O(batch) — at 100 TB a
    * micro-batch append writes the batch's files plus one manifest,
    * never a copy/rewrite of the corpus. Readers keep using the old
    * `dir` until the caller switches — version-swap, never in-place.
    * Commit protocol: the manifest is written LAST, so
    * `committed(out/manifest)` structurally gates the whole version (a
    * crash after the segment but before the manifest reads as "never
    * built", and the replay guard keys on the same marker). Retention is
    * manifest refcounting
    * ([[graft.streaming.StreamingIndex.pruneVersions]]): a segment lives
    * while any surviving manifest references it.
    */
  private def appendAt(spark: SparkSession, codec: IvfCodec, dir: String,
                       batch: DataFrame, out: String,
                       maxSegments: Int): Unit = {
    // a committed `out` means this version already folded its batch — a
    // re-invocation (crash-replay, retried job) must not append it twice
    if (IndexStore.committed(s"$out/manifest")) return
    val base = ivfLayout(spark, dir, codec.data)
    require(base.committed,
      s"append base $dir is not a committed index version")
    val centersDf = IndexStore.readCached(spark, base.centroids)
    // the batch's dimension must match the index — a mismatch would make
    // every squaredL2 NULL and silently dump the whole batch in cluster 0
    val centerDim = centroidRows(spark, base.centroids).head._2.numElements()
    batch.select(size(col("v"))).limit(1).collect().headOption.foreach {
      r => require(r.getInt(0) == centerDim,
        s"batch dim ${r.getInt(0)} != index dim $centerDim")
    }
    // assign each batch ROW to its nearest existing centroid through the
    // slim shared seam ([[assignToCentroids]]): keyed by a per-row uid,
    // not vec_id, so duplicate ids in one batch are appended as distinct
    // rows (FAISS add_with_ids semantics), never silently collapsed
    val assigned = assignToCentroids(spark, batch, centersDf)
    val rows = codec.encode(spark, base, assigned)
    val segment = s"$out/segment"
    // compaction trigger ([[IndexStore.DefaultMaxSegments]]): fold the
    // whole chain + batch into ONE fresh segment. The fold reads the
    // LIVE view: tombstone-masked rows are physically dropped and the
    // tombstones retired from the manifest (the merge-on-read →
    // compaction contract of the delete lifecycle). A delta append
    // carries the tombstones FORWARD: it must never un-delete
    val fold = base.segments.length + 1 > maxSegments
    val written =
      if (fold) liveRows(spark, base).select(rows.columns.map(col): _*)
        .unionByName(rows)
      else rows
    written
      // one shuffle so each touched cluster gets ONE file, not one per
      // (task × cluster): per-cluster rows are O(√n) by the nlist
      // sizing, and a micro-batch spread over every writer task would
      // otherwise add tasks·nprobe-ish small files per trigger — the
      // file-listing death of a frequently-appended index. Overwrite
      // clears any crashed attempt's leftovers at the segment path
      .repartition(col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(segment)
    // an empty batch (e.g. a shard's empty slice of a streamed batch)
    // writes a segment with no data file, from which no reader can infer
    // a schema: the version then re-lists the predecessor's segments, so
    // it reads exactly as its predecessor does
    val empty = !IndexStore.holdsData(segment)
    if (!empty) seedSegmentSchema(spark, written, base.segments.last, segment)
    // LAST: the manifest commits the version (see commit protocol above)
    IndexStore.writeManifest(spark, out,
      if (empty) base.successor(base.segments, base.tombstones)
      else if (fold) base.successor(Seq(segment), Nil)
      else base.successor(base.segments :+ segment, base.tombstones))
    // the version is committed — the assignment's working checkpoint is
    // dead; release deterministically ([[Checkpoints]])
    Checkpoints.release(assigned)
  }

  /** Seed the schema of a data segment just written from `rows`: a
    * reader's inference would find the predecessor segment's (`like`)
    * whenever the rows carry its columns and types — nullability aside,
    * the partition column last — so the first read of the new version
    * skips the inference job. Rows of another shape are left to
    * inference.
    */
  private def seedSegmentSchema(spark: SparkSession, rows: DataFrame,
                                like: String, segment: String): Unit = {
    val prior = IndexStore.readCached(spark, like).schema
    def shape(fields: Seq[StructField]) =
      fields.map(f => (f.name, f.dataType.catalogString))
    val (part, data) = rows.schema.fields.toSeq.partition(_.name == "cluster")
    if (shape(data ++ part) == shape(prior.fields.toSeq))
      IndexStore.seedSchema(segment, prior)
  }

  /** Incremental add to the persisted flat IVF index: [[appendAt]] with
    * the flat codec.
    */
  private[graft] def appendToIvfIndexAt(spark: SparkSession, dir: String,
                                        batch: DataFrame, out: String,
                                        maxSegments: Int =
                                          IndexStore.DefaultMaxSegments)
      : Unit = appendAt(spark, FlatCodec, dir, batch, out, maxSegments)

  /** DELETE from the persisted flat IVF index: [[deleteAt]] over the
    * flat codec's `vectors` segments.
    */
  private[graft] def deleteFromIvfIndexAt(spark: SparkSession, dir: String,
                                          ids: DataFrame, out: String,
                                          maxSegments: Int =
                                            IndexStore.DefaultMaxSegments)
      : Unit = deleteAt(spark, FlatCodec.data, dir, ids, out, maxSegments)

  /** DELETE from the persisted IVF+PQ index — the same tombstone version
    * over the quantized layout: centroids, codebooks and every code
    * segment are re-referenced untouched; the ADC scan excludes
    * tombstoned ids merge-on-read ([[ivfPqSearchAt]]).
    */
  private[graft] def deleteFromIvfPqIndexAt(spark: SparkSession,
                                            dir: String, ids: DataFrame,
                                            out: String,
                                            maxSegments: Int =
                                              IndexStore.DefaultMaxSegments)
      : Unit = deleteAt(spark, PqCodec.Data, dir, ids, out, maxSegments)

  /** DELETE from a persisted IVF version, written ONCE for every codec
    * — FAISS `remove_ids` restated for the manifested layout (the
    * reference's `IndexIDMap`, `main.py:60-62`, exists precisely to make
    * entries id-addressable): a NEW version at `out` re-references every
    * predecessor segment and adds ONE tombstone segment holding the
    * deleted vec_ids. A tombstone is a bare vec_id, so the codec enters
    * only as the manifest data kind the version carries. Both compute
    * and I/O are O(batch-of-deletes); no corpus data is copied,
    * rewritten, or scanned. Reads resolve merge-on-read
    * ([[excludeTombstoned]]); compaction ([[compactIvfTo]] or the
    * in-chain fold) physically drops masked rows and retires the
    * tombstones. Same commit protocol as the append (manifest LAST,
    * replay-idempotent on `committed(out/manifest)`), and the same
    * `maxSegments` bound applied to the TOMBSTONE chain: a delete that
    * would push it past the bound folds all tombstone segments into one.
    */
  private def deleteAt(spark: SparkSession, data: String, dir: String,
                       ids: DataFrame, out: String,
                       maxSegments: Int): Unit = {
    if (IndexStore.committed(s"$out/manifest")) return
    val base = ivfLayout(spark, dir, data)
    require(base.committed,
      s"delete base $dir is not a committed index version")
    writeTombstoneVersion(spark, base, ids, out, maxSegments)
  }

  /** The tombstone-version tail of [[deleteAt]]: write the
    * (folded-if-over-bound) tombstone segment, then commit a manifest
    * of the predecessor's data artifacts plus the tombstone chain
    * (manifest LAST, replay-idempotent at the caller's `committed`
    * guard).
    */
  private def writeTombstoneVersion(spark: SparkSession, base: IvfLayout,
                                    ids: DataFrame, out: String,
                                    maxSegments: Int): Unit = {
    val segment = s"$out/tombstones"
    val batch = ids.select(col("vec_id")).distinct()
    val (written, kept) =
      if (base.tombstones.length + 1 > maxSegments) {
        // fold the tombstone chain + batch into one fresh segment —
        // O(total deletes since compaction), still never corpus-bound
        (IndexStore.readUnion(spark, base.tombstones).select(col("vec_id"))
          .unionByName(batch).distinct(), Seq.empty[String])
      } else (batch, base.tombstones)
    written.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(segment)
    // a segment of long ids reads back as exactly this schema
    if (written.schema("vec_id").dataType == LongType &&
        IndexStore.holdsData(segment))
      IndexStore.seedSchema(segment, StructType(Seq(
        StructField("vec_id", LongType))))
    // LAST: the manifest commits the version — predecessor data
    // segments re-referenced untouched, tombstone chain extended/folded
    IndexStore.writeManifest(spark, out,
      base.successor(base.segments, kept :+ segment))
  }

  /** Compact an appended IVF version into a standalone one-segment index
    * at `out` — the read-amplification bound of the manifest chain: after
    * many O(batch) appends the vector table is a long segment list; one
    * compaction job rewrites it as a single cluster-partitioned segment
    * (multiple files per cluster again — the parallel-read layout of the
    * base build) plus copied centroids, producing a PLAIN-layout index
    * any reader or append chain can use as its new base. `out` is a
    * fresh dir; a crashed compaction reads as "never built" (centroids
    * last = the commit marker of the plain layout). Tombstone-masked
    * rows are RESOLVED here: the compacted index holds live rows only
    * and carries no tombstones — the physical-drop half of the delete
    * lifecycle.
    */
  def compactIvfTo(spark: SparkSession, dir: String, out: String): Unit = {
    val layout = ivfLayout(spark, dir)
    liveRows(spark, layout)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$out/vectors")
    IndexStore.saveDataset(
      IndexStore.readCached(spark, layout.centroids), s"$out/centroids")
  }

  /** IVF + SQ8 composed index — the 100 TB shape: the coarse quantizer's
    * cluster id is the PHYSICAL partition key (a probe's `cluster IN`
    * literals prune at file listing, touching nprobe/k of the data) AND
    * every row inside a partition is int8-quantized (~3.5× fewer bytes
    * per scanned row, [[Quantize]]). A probe therefore reads
    * nprobe/k × 1/3.5 of the raw vector bytes; exactness is recovered by
    * rescoring the bounded candidate margin against full-precision rows.
    * Reuses the plain IVF build for the k-means fit (load-or-build), so
    * the fit still happens once per data version across BOTH layouts.
    */
  def buildIvfSqIndex(spark: SparkSession, sfDir: String,
                      nClusters: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivfsq$nc-v2", "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
      IndexStore.saveDataset(
        IndexStore.readCached(spark, s"$ivfDir/centroids"), s"$dir/centroids")
      // quantize passes the cluster column through — one map pass over the
      // assigned table, no self-join to re-attach the partition key
      Quantize.quantize(IndexStore.readCached(spark, s"$ivfDir/vectors"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(s"$dir/vectors")
    }
    dir
  }

  /** [[ivfKnn]] over the composed IVF+SQ8 layout: probe-pruned partitions,
    * asymmetric distance on dequantized rows, exact rescore of the
    * per-query candidate margin against full-precision vectors. Same
    * probe auto-switch as [[ivfKnn]]: above [[JoinProbeQueryThreshold]]
    * queries the probe side stays distributed and DPP prunes the
    * quantized scan.
    */
  def ivfSqKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
               k: Int = 10, nClusters: Int = 0, nProbe: Int = 0,
               rerank: Int = 40): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    ivfSqSearchAt(spark, buildIvfSqIndex(spark, sfDir, nc),
      queryVectors(spark, sfDir, nQueries),
      VectorSearch.normalized(spark, sfDir), k, resolveProbe(nc, nProbe),
      rerank, nQueries.toLong)
  }

  /** The IVF+SQ8 scan against an explicit (plain) index dir: the
    * [[probeScan]] over the int8 rows, scored against each row
    * dequantized in the scan, then the ONE shared pruning tail (NULL
    * adist ranks last there) and the exact rescore against `normed`.
    */
  private[graft] def ivfSqSearchAt(spark: SparkSession, dir: String,
                                   queries: DataFrame, normed: DataFrame,
                                   k: Int, nProbe: Int, rerank: Int,
                                   expectedQ: Long): DataFrame =
    rescore(
      probeScan(spark, ivfLayout(spark, dir), queries, nProbe, expectedQ,
        squaredL2(col("qu"),
          transform(col("qv"), x => x.cast("double") / col("scale")))
          .as("adist"), rerank, margin = true),
      normed, k, expectedQ)

  /** Build (once) the composed IVF+PQ layout — the production default of
    * every FAISS deployment at scale (`IndexIVFPQ`; the reference holds
    * raw float32 in a flat index, `main.py:60-62`, precisely the thing
    * that stops fitting first at 100 TB): cluster-partitioned PRODUCT-
    * QUANTIZED codes, so a probe prunes the scan to nprobe/k of the
    * corpus AND each scanned row is m bytes instead of d·4. Artifacts:
    * `centroids` (the IVF probe table), `codebooks` (the m per-subspace
    * k-means tables), `codes` hive-partitioned by cluster. Both parents
    * are the committed build-once indexes, so the compose is two
    * control-plane copies plus ONE equi-join pass (codes ⋈ assignments)
    * — no k-means refit, and the PQ arithmetic is definitionally
    * identical to the flat-PQ path's.
    *
    * Codes quantize the raw (normalized) vectors, not the per-cluster
    * residuals (FAISS `by_residual=false`): residual coding would buy
    * recall at the cost of forking the LUT construction per probed
    * cluster (Q·nprobe LUTs instead of Q); the lost recall is bought
    * back by the exact-rescore margin, and the gate that prices that
    * trade is the measured `ivf_pq` floor in [[annRecall]].
    */
  def buildIvfPqIndex(spark: SparkSession, sfDir: String,
                      nClusters: Int = 0, m: Int = 0,
                      nCodes: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val mm = Quantize.resolveM(spark, sfDir, m)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    val dir = IndexStore.indexDir(sfDir, s"ivfpq$nc-$mm-$nk-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/codebooks") ||
        !IndexStore.committed(s"$dir/codes")) {
      val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
      val pqDir = Quantize.buildPqIndex(spark, sfDir, mm, nk)
      composeIvfPq(spark, ivfDir, pqDir, dir)
    }
    dir
  }

  /** Compose a committed IVF layout and a committed PQ layout into one
    * IVF+PQ dir: two control-plane artifact copies plus ONE equi-join
    * pass (codes ⋈ cluster assignments) — THE one compose, shared by the
    * build-once fixture index and the codebook-refit path so the two can
    * never drift in artifact layout or join shape. Codes are written
    * LAST: with [[buildIvfPqIndex]]'s three-artifact committed check
    * they double as the compose's commit marker.
    */
  private def composeIvfPq(spark: SparkSession, ivfDir: String,
                           pqDir: String, out: String): Unit = {
    IndexStore.saveDataset(
      IndexStore.readCached(spark, s"$ivfDir/centroids"), s"$out/centroids")
    IndexStore.saveDataset(
      IndexStore.readCached(spark, s"$pqDir/codebooks"), s"$out/codebooks")
    IndexStore.readCached(spark, s"$pqDir/codes")
      .join(IndexStore.readCached(spark, s"$ivfDir/vectors")
        .select(col("vec_id"), col("cluster")), "vec_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$out/codes")
  }

  /** IVF+PQ top-k: probe-pruned partitions scanned by ADC lookup-table
    * sums, exact rescore of the candidate margin — [[ivfSqKnn]]'s shape
    * with the scan rows shrunk from ~d bytes (SQ8) to m bytes (PQ), the
    * aggressive end of the family's storage/recall trade at the SAME
    * probe pruning. The per-query LUTs ride [[probeScan]]'s query
    * side, so the code scan is one map-side pass summing m lookups per
    * row; above [[JoinProbeQueryThreshold]] queries the probe stays
    * distributed (DPP prunes the partitioned code scan), and
    * [[probeSide]] prices the staged payload with the LUT bytes
    * included.
    */
  def ivfPqKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
               k: Int = 10, nClusters: Int = 0, nProbe: Int = 0,
               m: Int = 0, nCodes: Int = 0, rerank: Int = 40): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val mm = Quantize.resolveM(spark, sfDir, m)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    val dir = buildIvfPqIndex(spark, sfDir, nc, mm, nk)
    ivfPqSearchAt(spark, dir, queryVectors(spark, sfDir, nQueries),
      VectorSearch.normalized(spark, sfDir), k, resolveProbe(nc, nProbe),
      mm, nk, rerank, expectedQ = nQueries.toLong)
  }

  /** The IVF+PQ probe-and-scan against an EXPLICIT (possibly manifested)
    * index dir — shared by the fixture search and the append gate, so
    * probe tie-breaking, LUT arithmetic and margin semantics can never
    * drift between them. `normed` is the full-precision rescore corpus:
    * an appended version's candidates include batch ids, so the caller
    * supplies the corpus the version actually indexes.
    */
  private[graft] def ivfPqSearchAt(spark: SparkSession, dir: String,
                                   queries: DataFrame, normed: DataFrame,
                                   k: Int, nProbe: Int, m: Int, nk: Int,
                                   rerank: Int, expectedQ: Long,
                                   lutsIn: Option[DataFrame] = None)
      : DataFrame =
    rescore(
      ivfPqMarginAt(spark, dir, queries, nProbe, m, nk, rerank,
        expectedQ, lutsIn),
      normed, k, expectedQ)

  /** The ADC half of [[ivfPqSearchAt]]: the [[probeScan]] scored by m
    * LUT lookups per code row (the per-query LUTs, the shared
    * distributed construction [[Quantize.pqLutsAt]], ride as the scan's
    * per-query side) + the ONE shared rerank-margin prune, WITHOUT the
    * exact rescore — (query_id, qu, id) rows. Split out for the sharded
    * topology ([[ShardedSearch.shardedIvfPqKnn]]): gathering each
    * shard's MARGIN and rescoring the union ONCE costs one
    * full-precision corpus pass instead of K+1, and the gathered margin
    * is a superset of the per-shard top-k gather, so the merge can only
    * improve.
    */
  private[graft] def ivfPqMarginAt(spark: SparkSession, dir: String,
                                   queries: DataFrame,
                                   nProbe: Int, m: Int, nk: Int,
                                   rerank: Int, expectedQ: Long,
                                   lutsIn: Option[DataFrame] = None)
      : DataFrame = {
    // `lutsIn`: a caller that probes several dirs sharing ONE trained
    // codebook (the sharded topology) builds the Q-row LUT table once
    // and passes it in — K identical Q·m·nk constructions collapsed to
    // one ([[ShardedSearch.shardedIvfPqKnn]])
    probeScan(spark, ivfLayout(spark, dir, PqCodec.Data), queries, nProbe,
      expectedQ,
      expr(s"""aggregate(sequence(0, ${m - 1}), 0D, (acc, j) ->
        acc + element_at(lut, j * $nk +
          element_at(codes, j + 1) + 1))""").as("adist"),
      rerank, margin = true, luts = Some(PqLuts(m, nk, lutsIn)))
  }

  /** PQ-encode an explicit centroid-assigned frame (vec_id, v, cluster)
    * with FROZEN codebooks — the add-time half of FAISS `IndexIVFPQ.add`:
    * per subspace, each row takes the code of its nearest codebook
    * center; the codebooks are never refit by an append (that is the
    * refit lifecycle step's job, as with centroids). One crossJoin with
    * the tiny broadcast codebook table (batch × m·nk rows — O(batch)
    * with a constant factor, never corpus-bound) and a per-(row,
    * subspace) argmin window; ties break on the lower code, matching the
    * build-time k-means predict (first minimal index). The window
    * partitions by a per-row uid so duplicate vec_ids in one batch stay
    * distinct rows (add_with_ids semantics, as in [[appendAt]]).
    *
    * Arithmetic caveat (applies equally to append-time CENTROID
    * assignment): this path computes exact fold-order squared L2 against
    * the persisted codebook/centroid tables — the SAME expression the
    * search paths use — while the BUILD-time k-means assignment goes
    * through MLlib's norm-accelerated fastSquaredDistance. A borderline
    * vector can therefore encode/assign differently between the build
    * and append paths; the invariant is search-time arithmetic plus the
    * recall-floor gates, NOT build/append bit-identity of assignments.
    */
  private def pqEncode(spark: SparkSession, codebooksPath: String,
                       rows: DataFrame, m: Int, nk: Int): DataFrame = {
    val books = IndexStore.readCached(spark, codebooksPath)
    val subLen = Quantize.codebookRows(spark, codebooksPath).head._3
      .numElements()
    // NEVER materialize the batch × (m·nk) codebook blowup (57,344 book
    // rows at d=2048). The first cut carried the 8·d B vector through
    // that blowup into a window sort and OOM'd a 24 g heap on a 10k-row
    // batch at width; a min_by re-cut still sort-aggregated the blown-up
    // rows (struct agg buffers disable hash aggregation) and OOM'd the
    // same way — both found by the round-15 wide lifecycle ladder,
    // invisible at d=64 where the blowup is 176 rows. Shape that scales:
    // explode each vector into its m SUBVECTORS (subLen doubles each —
    // the full vector never rides a blown-up row), broadcast-hash-join
    // the m-row per-subspace candidate table, and fold the nk-candidate
    // argmin INSIDE one expression per (vector, subspace) row. In-flight
    // is O(batch·m) slim rows end-to-end; the only shuffle is the final
    // per-vector code collect. `cands` is code-ascending (sort_array on
    // the (code, center) struct) and array_position returns the FIRST
    // minimal d2, so ties resolve to the lowest code — the window's
    // exact (d2, code) ascending order; the d2 arithmetic is the same
    // zip_with/aggregate left fold. Codes bit-identical all three cuts.
    val booksBySub = books.groupBy(col("subspace"))
      .agg(sort_array(collect_list(struct(col("code"), col("center"))))
        .as("cands"))
    rows.withColumn("uid", monotonically_increasing_id())
      .select(col("uid"), col("vec_id"), col("cluster"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"j -> slice(v, j * $subLen + 1, $subLen))"))
          .as(Seq("subspace", "sv")))
      .join(broadcast(booksBySub), "subspace")
      .select(col("uid"), col("vec_id"), col("cluster"), col("subspace"),
        expr(
          """transform(cands, c ->
            |  aggregate(zip_with(sv, c.center, (x, y) -> (x - y) * (x - y)),
            |    0D, (acc, d) -> acc + d))""".stripMargin).as("d2s"),
        col("cands"))
      .select(col("uid"), col("vec_id"), col("cluster"), col("subspace"),
        expr("cands[CAST(array_position(d2s, array_min(d2s)) AS INT) - 1]" +
          ".code").as("code"))
      .groupBy(col("uid"))
      .agg(first(col("vec_id")).as("vec_id"),
        first(col("cluster")).as("cluster"),
        transform(array_sort(
          collect_list(struct(col("subspace"), col("code")))),
          s => s.getField("code")).as("codes"))
      .select(col("vec_id"), col("codes"), col("cluster"))
  }

  /** Incremental add to the persisted IVF+PQ index: [[appendAt]] with
    * the PQ codec — codes encoded with the FROZEN codebooks
    * ([[pqEncode]]), the same commit protocol and in-chain fold bound as
    * the flat chain.
    */
  private[graft] def appendToIvfPqIndexAt(spark: SparkSession,
                                          dir: String, batch: DataFrame,
                                          out: String, m: Int, nk: Int,
                                          maxSegments: Int =
                                            IndexStore.DefaultMaxSegments)
      : Unit = appendAt(spark, PqCodec(m, nk), dir, batch, out, maxSegments)

  /** Load-or-build the PAYLOAD-CARRYING IVF layout: the same centroids
    * and cluster-partitioned vectors as the plain index, with the
    * filterable metadata column (`label`) riding IN the vector rows —
    * the layout every production vector store uses for metadata
    * filtering, so a predicate composes with the partition prune as a
    * pushed filter on the SAME scan. Derived from the plain index's
    * committed artifacts (one assignment pass is shared); a from-scratch
    * deployment builds with payload columns on day one.
    */
  private[graft] def loadOrBuildFilteredIvf(spark: SparkSession,
                                            sfDir: String,
                                            nClusters: Int): String = {
    val dir = IndexStore.indexDir(sfDir, s"ivf$nClusters-flt-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val base = loadOrBuildIvf(spark, sfDir, nClusters)
      IndexStore.saveDataset(
        IndexStore.readCached(spark, s"$base/centroids"), s"$dir/centroids")
      val labels = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label").cast("int").as("label"))
      IndexStore.readCached(spark, s"$base/vectors").join(labels, "vec_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(s"$dir/vectors")
    }
    dir
  }

  /** Fraction of the corpus matching `label` — the predicate SELECTIVITY
    * the filtered probe over-probes by. Two control-plane counts (at
    * 100 TB both come from table statistics / NDV sketches), cached per
    * source fingerprint ([[IndexStore.cached]]): selectivity feeds the
    * saturation-exactness property that lets `ann_filtered` share the
    * exact oracle, so a regenerated fixture must never be served a stale
    * figure — both counts run fresh inside the miss, keeping numerator
    * and denominator consistent with each other.
    */
  private[graft] def labelSelectivity(spark: SparkSession, sfDir: String,
                                      label: Int): Double =
    IndexStore.cached("selectivity", s"$sfDir#$label",
      IndexStore.FromSource(sfDir, Seq("embeddings"))) {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val matching = emb.filter(col("label") === label).count()
      matching.toDouble / math.max(1L, emb.count())
    }

  /** FILTERED approximate k-NN: metadata predicate + IVF probe in ONE
    * plan — the promised-but-missing `search_by_text`-style filtered
    * search direction (`README.md:37`). Two compositions make it scale:
    *
    *  - the predicate prunes INSIDE the partition scan: `label` is a
    *    payload column of the cluster-partitioned index, so the probed
    *    scan carries BOTH `PartitionFilters` (cluster ∈ probed) and
    *    `PushedFilters` (label = L) — matching rows are selected at the
    *    row-group level of only the probed partitions, never filtered
    *    after a full read;
    *  - the probe OVER-PROBES inversely to selectivity: a predicate
    *    matching fraction `sel` of the corpus thins every cluster's
    *    candidates by `sel`, so reaching the unfiltered candidate count
    *    needs ~nprobe/sel clusters (the standard filtered-ANN heuristic).
    *    Saturation at nc clusters makes sparse fixtures EXACT — at the
    *    gate scales the over-probe saturates, so this entry shares the
    *    exact filtered-kNN oracle; at 100 TB (nc = √n ≫ nprobe/sel) it
    *    is a genuine partition-pruned approximate search. A predicate
    *    selective enough to saturate every probe (sel → 0) wants a
    *    different layout — partition by (label, cluster) — noted, not
    *    built: at that point the filter IS the index.
    *
    * The same [[probeScan]] as [[ivfKnn]]: probe window, distance,
    * ranking tail and high-Q auto-switch ([[JoinProbeQueryThreshold]]).
    */
  def ivfFilteredKnn(spark: SparkSession, sfDir: String, label: Int = 1,
                     nQueries: Int = 10, k: Int = 10, nClusters: Int = 0,
                     nProbe: Int = 0): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    ivfFilteredSearchAt(spark, loadOrBuildFilteredIvf(spark, sfDir, nc),
      queryVectors(spark, sfDir, nQueries), label, k,
      filteredProbe(resolveProbe(nc, nProbe), nc,
        labelSelectivity(spark, sfDir, label)),
      nQueries.toLong)
  }

  /** The over-probed cluster count of a filtered search: nprobe/sel,
    * saturating at the cluster count. Exposed for the saturation spec.
    */
  private[graft] def filteredProbe(nProbe: Int, nClusters: Int,
                                   sel: Double): Int =
    math.min(nClusters.toLong,
      math.ceil(nProbe / math.max(sel, 1e-12)).toLong).toInt

  /** The filtered scan against an explicit payload-carrying index dir:
    * the [[probeScan]] with `label = L` pushed into the probed partition
    * scan, ranked like [[searchIndexAt]]. `nProbe` is the already
    * over-probed count ([[filteredProbe]]).
    */
  private[graft] def ivfFilteredSearchAt(spark: SparkSession, dir: String,
                                         queries: DataFrame, label: Int,
                                         k: Int, nProbe: Int,
                                         expectedQ: Long): DataFrame =
    probeScan(spark, ivfLayout(spark, dir), queries, nProbe, expectedQ,
      squaredL2(col("qu"), col("v")).as("dist"), k, margin = false,
      rowFilter = Some(col("label") === label))

  /** The persisted-IVF scale path through the PURE-SQL surface — what a
    * SQL-only consumer of the library runs (the exact-k-NN twin is
    * `sql_vector_knn`). The index artifacts are exposed as views over the
    * committed layout and the whole probe-then-scan is ONE ANSI statement
    * using the injected `graft_*` expressions: nearest-nprobe centroids
    * per query via a windowed cross join with the O(√n) centroid table,
    * then candidates from the cluster-partitioned vector table joined on
    * `cluster`. The BROADCAST hint on the tiny probe side makes the join
    * a broadcast hash join on the PARTITION column, so Spark's dynamic
    * partition pruning closes the same file-level pruning the programmatic
    * [[ivfKnn]] gets from its `isin` literals (spec-verified in the plan).
    * Same distance expression, same tie-breaking → bit-identical rows to
    * [[ivfKnn]], which is what the spec asserts — the SQL surface
    * inherits the programmatic path's recall gates transitively.
    */
  def sqlAnnIvf(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                k: Int = 10, nClusters: Int = 0,
                nProbe: Int = 0): DataFrame = {
    graft.GraftFunctions.register(spark)
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    IndexStore.readCached(spark, s"$dir/centroids")
      .createOrReplaceTempView("ivf_centroids_sql")
    IndexStore.readCached(spark, s"$dir/vectors")
      .createOrReplaceTempView("ivf_vectors_sql")
    Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("ivf_emb_sql")
    spark.sql(
      s"""WITH queries AS (
         |  SELECT vec_id AS query_id, graft_l2_normalize(
         |    transform(embedding, x -> CAST(x AS DOUBLE))) AS qu
         |  FROM ivf_emb_sql WHERE vec_id < $nQueries
         |), probes AS (
         |  SELECT query_id, qu, cluster FROM (
         |    SELECT q.query_id, q.qu, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY graft_squared_l2(q.qu, c.center), c.cluster)
         |        AS cr
         |    FROM queries q CROSS JOIN ivf_centroids_sql c
         |  ) WHERE cr <= ${resolveProbe(nc, nProbe)}
         |), cand AS (
         |  SELECT /*+ BROADCAST(p) */
         |    p.query_id, v.vec_id AS id,
         |    graft_squared_l2(p.qu, v.v) AS dist
         |  FROM probes p JOIN ivf_vectors_sql v
         |    ON v.cluster = p.cluster AND v.vec_id <> p.query_id
         |), ranked AS (
         |  SELECT query_id, id, dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist, id) AS rn
         |  FROM cand
         |)
         |SELECT query_id, id, round(dist, 6) AS distance,
         |  CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= $k ORDER BY query_id, rn""".stripMargin)
  }

  /** The FILTERED IVF path through the PURE-SQL surface — completes the
    * SQL-twin symmetry (knn / ivf / bm25 / minhash / dup_groups /
    * filtered): the payload-carrying index is exposed as views, and the
    * whole predicate-composed probe-then-scan is ONE ANSI statement. The
    * `label = L` predicate sits in the candidate join's ON clause over
    * the view of the cluster-partitioned layout, so it reaches the scan
    * as a pushed row-group filter ALONGSIDE the DPP partition prune from
    * the broadcast probe join — the same one-scan composition as the
    * programmatic [[ivfFilteredKnn]]. The over-probe count is the same
    * [[filteredProbe]] literal (selectivity from the cached
    * control-plane count), so saturation — and with it the exact
    * filtered-kNN oracle — carries over. Bit-identical to
    * [[ivfFilteredKnn]] (spec-asserted).
    */
  def sqlAnnFiltered(spark: SparkSession, sfDir: String, label: Int = 1,
                     nQueries: Int = 10, k: Int = 10, nClusters: Int = 0,
                     nProbe: Int = 0): DataFrame = {
    graft.GraftFunctions.register(spark)
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildFilteredIvf(spark, sfDir, nc)
    IndexStore.readCached(spark, s"$dir/centroids")
      .createOrReplaceTempView("ivf_flt_centroids_sql")
    IndexStore.readCached(spark, s"$dir/vectors")
      .createOrReplaceTempView("ivf_flt_vectors_sql")
    Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("ivf_emb_sql")
    val np = filteredProbe(resolveProbe(nc, nProbe), nc,
      labelSelectivity(spark, sfDir, label))
    spark.sql(
      s"""WITH queries AS (
         |  SELECT vec_id AS query_id, graft_l2_normalize(
         |    transform(embedding, x -> CAST(x AS DOUBLE))) AS qu
         |  FROM ivf_emb_sql WHERE vec_id < $nQueries
         |), probes AS (
         |  SELECT query_id, qu, cluster FROM (
         |    SELECT q.query_id, q.qu, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY graft_squared_l2(q.qu, c.center), c.cluster)
         |        AS cr
         |    FROM queries q CROSS JOIN ivf_flt_centroids_sql c
         |  ) WHERE cr <= $np
         |), cand AS (
         |  SELECT /*+ BROADCAST(p) */
         |    p.query_id, v.vec_id AS id,
         |    graft_squared_l2(p.qu, v.v) AS dist
         |  FROM probes p JOIN ivf_flt_vectors_sql v
         |    ON v.cluster = p.cluster AND v.vec_id <> p.query_id
         |   AND v.label = :label
         |), ranked AS (
         |  SELECT query_id, id, dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist, id) AS rn
         |  FROM cand
         |)
         |SELECT query_id, id, round(dist, 6) AS distance,
         |  CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= $k ORDER BY query_id, rn""".stripMargin,
      Map("label" -> label))
  }

  /** Recall of the approximate searches against the exact k-NN, per query
    * and method — the accuracy report the reference's `efSearch` knob
    * (`main.py:31`) trades against. `meets_floor` flags queries below the
    * method's OWN recall floor (each method sits at a different point on
    * the storage/recall trade — a single global floor would make the flag
    * permanently red for PQ and meaningless as a regression signal), so a
    * recall regression is visible row-by-row in the correctness dump
    * (the spec additionally asserts per-method averages).
    */
  def annRecall(spark: SparkSession, sfDir: String,
                nQueries: Int = 10, k: Int = 10,
                floors: Map[String, Double] = DefaultRecallFloors): DataFrame =
    recallFrame(spark, sfDir, nQueries, k, floors)
      .orderBy("method", "query_id")

  private[graft] val DefaultRecallFloors: Map[String, Double] =
    Map("lsh" -> 0.8, "ivf" -> 0.6, "ivf_sq" -> 0.6,
      "pq" -> 0.4, "ivf_filtered" -> 0.6, "ivf_pq" -> 0.4,
      // the graph leg navigates to the exact neighborhood at fixture
      // scale (measured 1.0 avg on every fixture) — floor set at the
      // LSH tier, the family's high-recall end
      "knn_graph" -> 0.8,
      // the filtered beam saturates at fixture scale (ef/sel >= n), so
      // its measured recall is 1.0 like the unfiltered leg; same floor
      "graph_filtered" -> 0.8)

  /** The gauge tier's shared (method, query) recall frame — computed ONCE
    * per (data fingerprint, nQueries, k, floors) per JVM and
    * localCheckpoint'ed: [[annRecall]] IS this frame ordered, and
    * [[annRecallViolations]] is a pure filter over it, so the exact
    * denominator and the six per-method searches never run twice across
    * the gauge tier (they are ~25% of the whole suite's wall-clock
    * otherwise). It is a checkpointed frame of the cache seam
    * ([[IndexStore.cachedFrame]]), so a regenerated fixture or a new
    * session recomputes it, and the superseded frame's blocks are
    * released.
    */
  private def recallFrame(spark: SparkSession, sfDir: String,
                          nQueries: Int, k: Int,
                          floors: Map[String, Double]): DataFrame =
    IndexStore.cachedFrame(spark, "recall",
      s"$sfDir#$nQueries#$k#" + floors.toSeq.sorted.mkString(","),
      IndexStore.FromSource(sfDir, Seq("embeddings")))(
      computeRecallFrame(spark, sfDir, nQueries, k, floors))

  /** The exact k-NN truth pairs (query_id, id), checkpointed and shared
    * per (fingerprint, nQueries, k): the denominator of every recall
    * gauge ([[annRecall]] via [[recallFrame]], [[annRecallCurve]]) — six
    * per-method hit joins and the curve's nine operating points all read
    * the same materialization instead of re-running the brute-force scan.
    */
  /** Disk-committed exact brute-force truth per (fixture fingerprint,
    * Q, k) — the denominator every recall gauge and shard-merge
    * identity shares. The brute force is O(n·Q·d); at the wide and
    * deep×wide tiers it had become a RECURRING per-round cost paid only
    * to recompute bit-identical rows (round-16 VERDICT: `ann_recall`
    * cold 15.2 s at sf0.1, the deepwide exact truth re-derived per
    * leg), so the first computation is committed ONCE — keyed by the
    * source fingerprint exactly like every index artifact, regenerated
    * fixture ⇒ fresh truth — and every later JVM reads the frozen
    * frame. `knn_search` the ENTRY stays a live computation; this is
    * the gates'/gauges' denominator, not the query path.
    */
  private[graft] def exactKnnAt(spark: SparkSession, sfDir: String,
                                nQueries: Int = 10,
                                k: Int = 10): DataFrame = {
    val dir = IndexStore.indexDir(sfDir, s"exact-knn-$nQueries-$k-v1",
      "embeddings")
    if (!IndexStore.committed(dir))
      IndexStore.saveDataset(
        VectorSearch.knnSearch(spark, sfDir, nQueries, k).coalesce(1),
        dir)
    IndexStore.readCached(spark, dir)
  }

  private[graft] def exactKnnPairs(spark: SparkSession, sfDir: String,
                            nQueries: Int, k: Int): DataFrame =
    IndexStore.cachedFrame(spark, "exactPairs", s"$sfDir#$nQueries#$k",
      IndexStore.FromSource(sfDir, Seq("embeddings")))(
      exactKnnAt(spark, sfDir, nQueries, k)
        .select(col("query_id"), col("id")))

  private def computeRecallFrame(spark: SparkSession, sfDir: String,
                                 nQueries: Int, k: Int,
                                 floors: Map[String, Double]): DataFrame = {
    val exact = exactKnnPairs(spark, sfDir, nQueries, k)
    val allQueries = exact.select(col("query_id")).distinct()
    // left join from the full query list so a method that found zero true
    // neighbors for some query reports recall 0 rather than vanishing.
    // The denominator is the EXACT set's own per-query size, not k: a
    // filtered truth set can hold fewer than k rows (selective label,
    // tiny corpus), and dividing by k there would report recall < 1 for
    // a perfect search and trip the gates spuriously. For the
    // unfiltered methods the exact set has exactly k rows per query, so
    // the value is unchanged.
    def recallAgainst(exactRef: DataFrame, name: String,
                      approx: DataFrame): DataFrame = {
      val denom = exactRef.groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"))
      val hits = exactRef.join(approx.select(col("query_id"), col("id")),
          Seq("query_id", "id"), "left_semi")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
      allQueries.join(denom, Seq("query_id"), "left_outer")
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          // an EMPTY truth set (no exact rows for this query) is
          // vacuously perfect recall, not 0/k — a query whose filtered
          // slice is empty must not trip the gates
          when(col("n_exact").isNull, lit(1.0))
            .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_exact")).as("recall"))
        .withColumn("method", lit(name))
        .withColumn("floor", lit(floors.getOrElse(name, 0.8)))
        .withColumn("meets_floor", col("recall") >= col("floor"))
    }
    def recallOf(name: String, approx: DataFrame): DataFrame =
      recallAgainst(exact, name, approx)
    // the filtered method's truth is the exact FILTERED k-NN — recall
    // against the unfiltered exact would conflate predicate selectivity
    // with probe misses
    val filteredExact = VectorSearch
      .knnSearchFiltered(spark, sfDir, nQueries = nQueries, k = k)
      .select(col("query_id"), col("id")).localCheckpoint(true)
    recallOf("lsh", lshKnn(spark, sfDir, nQueries, k))
      .unionAll(recallOf("ivf", ivfKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("ivf_sq", ivfSqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("pq",
        Quantize.pqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("ivf_pq", ivfPqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("knn_graph",
        GraphAnn.graphKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallAgainst(filteredExact, "ivf_filtered",
        ivfFilteredKnn(spark, sfDir, nQueries = nQueries, k = k)))
      .unionAll(recallAgainst(filteredExact, "graph_filtered",
        GraphAnn.graphKnnFiltered(spark, sfDir, nQueries = nQueries,
          k = k)))
      .select(col("method"), col("query_id"), col("recall"),
        col("floor"), col("meets_floor"))
  }

  /** HARD recall gate: an EMPTY result is the passing state, checked
    * against a typed zero-row oracle, so a recall regression flips the
    * driver's rows_match red instead of hiding inside a boolean column of
    * a rows-only entry. Two violation levels (both rows of the same
    * shape; method-level rows carry NULL query_id):
    *
    *  - method level: avg recall under the method's floor — the same
    *    averages AnnSpec asserts, the real regression signal;
    *  - query level: any single query under the method's CATASTROPHIC
    *    minimum (set well below every observed per-query value, so it
    *    trips on "a query found nothing", not on normal per-query
    *    variance — a per-query gate at the average floor would be
    *    knife-edge: ivf query 5 legitimately sits at 0.5 vs the 0.6
    *    average floor at sf0.01).
    *
    * This is the regression alarm for the reference's accuracy knob
    * (`main.py:31` efSearch — "higher = more accurate").
    */
  def annRecallViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          queryMinima: Map[String, Double] =
                            Map("lsh" -> 0.5, "ivf" -> 0.25,
                              "ivf_sq" -> 0.25, "pq" -> 0.15,
                              "ivf_filtered" -> 0.25,
                              "ivf_pq" -> 0.15,
                              "knn_graph" -> 0.5,
                              "graph_filtered" -> 0.5)): DataFrame = {
    // the SHARED checkpointed gauge frame ([[recallFrame]]): both
    // violation branches — and the `ann_recall` entry itself — read one
    // materialization, so the exact denominator and the six per-method
    // searches run once across the whole gauge tier
    val r = recallFrame(spark, sfDir, nQueries, k, DefaultRecallFloors)
    val qmin = queryMinima.foldLeft(lit(0.0)) { case (acc, (m, f)) =>
      when(col("method") === m, lit(f)).otherwise(acc)
    }
    val methodViol = r.groupBy("method")
      .agg(round(avg(col("recall")), 4).as("recall"),
        first(col("floor")).as("floor"))
      .filter(col("recall") < col("floor"))
      .select(col("method"), lit(null).cast("long").as("query_id"),
        col("recall"), col("floor"))
    val queryViol = r.withColumn("qmin", qmin)
      .filter(col("recall") < col("qmin"))
      .select(col("method"), col("query_id"),
        round(col("recall"), 4).as("recall"), col("qmin").as("floor"))
    methodViol.unionAll(queryViol).orderBy("method", "query_id")
  }

  /** Recall-vs-cost curve: the MEASURED form of the reference's accuracy
    * knob (`main.py:31` efSearch) — 3 operating points per tunable method
    * (IVF and IVF+SQ8 sweep nprobe low/default/full; PQ sweeps the rerank
    * margin), each reported as average recall@k against the exact k-NN
    * PLUS the point's MEASURED price, `cost_rows`:
    *
    *  - ivf / ivf_sq: the candidate rows actually scanned = Σ over
    *    (query, probed cluster) of that cluster's stored size — priced
    *    from the probe assignments and a once-collected cluster-size
    *    table (≤ nClusters = O(√n) rows, control-plane metadata). This is
    *    what `cost = nprobe` hides: per-cluster probe cost shrinks as √n
    *    grows, so rows — not the parameter — are the comparable unit
    *    (ivf_sq scans the same rows at ~3.5× fewer bytes per row).
    *  - pq: ADC scans every code regardless; the rerank margin prices the
    *    full-precision rescore, min(rerank, n-1) rows per query.
    *
    * ivf_pq is deliberately NOT a fourth swept layout: its two knobs are
    * exactly its parents' (nprobe from the IVF probe, rerank from the PQ
    * margin), so the ivf/pq sweeps already span its operating surface —
    * and its composed recall is gated directly by the `ivf_pq` floor in
    * [[annRecallViolations]].
    *
    * Recall is monotone non-decreasing in the cost parameter BY
    * CONSTRUCTION, not just in expectation: a larger nprobe (or rerank
    * margin) produces a SUPERSET of candidates, and top-k over a superset
    * can only move closer to the exact result — so the spec asserts
    * monotonicity deterministically (for cost_rows too), and full probe
    * (nprobe = nClusters) must hit recall 1.0 exactly at
    * cost_rows = nQueries · n. Probe-rank nesting makes the sweep cheap:
    * each layout's candidate frame is materialized ONCE at full probe
    * and an operating point is a rank filter + ranking tail (identical
    * rows to running that point's search directly — the same subset the
    * point's own probe would select). The driver-side loop is
    * control-plane only (≤ 9 operating points, like text_rank's
    * iteration loop); per-point recall is a count aggregate, never a
    * row collect.
    */
  /** The curve is a GAUGE, so it rides the gauge tier's caching
    * discipline ([[recallFrame]]/[[exactKnnPairs]]): the full sweep —
    * all twelve operating points and the trace/candidate frames they
    * derive from — is computed ONCE per (fingerprint, nQueries, k) per
    * JVM and the checkpointed result re-read after that. Fingerprint
    * keying keeps a regenerated fixture from serving a stale curve.
    */
  def annRecallCurve(spark: SparkSession, sfDir: String,
                     nQueries: Int = 10, k: Int = 10): DataFrame =
    IndexStore.cachedFrame(spark, "curve", s"$sfDir#$nQueries#$k",
      IndexStore.FromSource(sfDir, Seq("embeddings")))(
      computeRecallCurve(spark, sfDir, nQueries, k))
      .orderBy("method", "cost")

  private def computeRecallCurve(spark: SparkSession, sfDir: String,
                                 nQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val nc = resolveClusters(spark, sfDir, 0)
    // the same checkpointed truth pairs the recall frame reads — the
    // curve's nine operating points add no second exact-kNN job
    val exact = exactKnnPairs(spark, sfDir, nQueries, k)
    val denom = exact.count().toDouble
    def recallOf(approx: DataFrame): Double = {
      val hits = exact.join(approx.select(col("query_id"), col("id")),
        Seq("query_id", "id"), "left_semi").count()
      math.round(hits / denom * 10000.0) / 10000.0
    }
    val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
    val centersDf = IndexStore.readCached(spark, s"$ivfDir/centroids")
    val queries = queryVectors(spark, sfDir, nQueries)
    val n = embeddingCount(spark, sfDir)
    val probePoints = Seq(math.max(1, nc / 8), autoProbe(nc), nc).distinct
    val rerankPoints = Seq(k, 40, 120).distinct
    // probe sets are NESTED in the probe rank, so the whole sweep derives
    // from ONE ranked full-probe frame: pricing is a single Q·nc
    // control-plane collect (never per point), and each layout's
    // candidate frame is materialized ONCE at nprobe = nc — an operating
    // point is then a `cr <= p` filter plus the (cheap) ranking tail,
    // not a re-probe + re-scan
    val probes = probeFrameRanked(queries, centersDf).localCheckpoint(true)
    val clusterSizes = IndexStore.readCached(spark, s"$ivfDir/vectors")
      .groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // GAUGE-ONLY driver collect, Q·nc slim (cluster, rank) pairs — the
    // curve's pricing input, never a production path. Q here is the
    // interactive fixture-query count and nc = O(√n); guard the product
    // so a future caller cannot feed a corpus-sized query frame through
    // the diagnostic (1e7 pairs ≈ 80 MB driver heap, far past any
    // legitimate curve sweep)
    val assignments = probes.select(col("cluster"), col("cr")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    require(assignments.length <= 10000000,
      s"annRecallCurve pricing collected ${assignments.length} " +
        "(query, cluster) pairs on the driver - the curve is an " +
        "interactive diagnostic; reduce nQueries or price from " +
        "cluster statistics instead")
    def probedRows(p: Int): Long = assignments.iterator
      .filter(_._2 <= p).map(a => clusterSizes.getOrElse(a._1, 0L)).sum
    // full-probe candidates per layout, each ONE scan+join (ivf_sq holds
    // the same rows per cluster at ~3.5× fewer bytes; pq's ADC scans
    // every code, so its one frame is rerank-independent already)
    val ivfCand = probes
      .join(IndexStore.readCached(spark, s"$ivfDir/vectors"), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cr"), col("vec_id").as("id"),
        squaredL2(col("qu"), col("v")).as("dist"))
      .localCheckpoint(true)
    val sqDir = buildIvfSqIndex(spark, sfDir, nc)
    val sqCand = probes
      .join(IndexStore.readCached(spark, s"$sqDir/vectors"), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cr"), col("qu"),
        col("vec_id").as("id"),
        squaredL2(col("qu"),
          transform(col("qv"), x => x.cast("double") / col("scale")))
          .as("adist"))
      .localCheckpoint(true)
    val pqCand = Quantize.pqAdist(spark, sfDir, nQueries)
      .localCheckpoint(true)
    // the graph leg sweeps search DEPTH (hops): visited(h) ⊆
    // visited(h+1) by construction, so the whole sweep derives from ONE
    // checkpointed trace at max depth — an operating point is a
    // `hop <= h` filter + the ranking tail, and its measured price is
    // the point's own visited-set size (the distance evals that depth
    // actually pays). This is the efSearch knob of `main.py:31` in its
    // distributed reading: deeper beam = more accurate = more evals.
    val gDir = GraphAnn.ensureGraphIndex(spark, sfDir)
    val gHops = GraphAnn.autoHops(n, GraphAnn.autoDegree(n))
    // unpruned trace: the depth sweep reconstructs beam-at-depth-h
    // pools from first-scored hops, which the (default) beam cut
    // discards — interactive Q only, Q × explored stays ~10⁵ rows here
    val gTrace = GraphAnn.searchTraceAt(spark, gDir, queries,
      GraphAnn.autoEf(n), gHops, pruneToEf = false).localCheckpoint(true)
    val hopPoints = (Seq(1, 2) ++ Seq(gHops)).distinct.filter(_ <= gHops)
    val normed = VectorSearch.normalized(spark, sfDir)
    val rows =
      hopPoints.map { h =>
        val sub = gTrace.filter(col("hop") <= h)
        ("graph", h.toLong,
          recallOf(VectorSearch.topK(
            sub.filter(col("id") =!= col("query_id"))
              .select(col("query_id"), col("id"), col("dist")), k)),
          sub.count())
      } ++
      probePoints.map { p =>
        ("ivf", p.toLong,
          recallOf(VectorSearch.topK(ivfCand.filter(col("cr") <= p), k)),
          probedRows(p))
      } ++
      probePoints.map { p =>
        ("ivf_sq", p.toLong,
          recallOf(VectorSearch.rescoreTopK(
            VectorSearch.pruneCandidates(
              sqCand.filter(col("cr") <= p), 40), normed, k)),
          probedRows(p))
      } ++
      rerankPoints.map { r =>
        ("pq", r.toLong,
          recallOf(VectorSearch.rescoreTopK(
            VectorSearch.pruneCandidates(pqCand, r), normed, k)),
          math.min(r.toLong, n - 1) * nQueries)
      }
    rows.toDF("method", "cost", "recall", "cost_rows")
      .orderBy("method", "cost")
  }

  /** The deterministic growth batch both lifecycle gates append: every
    * fixture embedding shifted to id + n (the corpus size) with +0.01
    * per element.
    */
  /** One past the corpus's LARGEST vec_id — the collision-free append
    * shift. The id CEILING, not the row count: the scaling ladder's
    * blowup corpora carry sparse ids (max ≈ 10.1 M over 200k rows), so
    * a count-based shift still lands inside the base id space (and the
    * fixture-era +20000 constant overlapped 180k of the 100× base ids
    * outright — the append gate's vector_count invariant measured the
    * collision, not the append). Cached per source fingerprint like
    * [[tableCount]]; on dense fixture ids (0..n-1) the ceiling equals
    * the count, so fixture artifacts are unchanged.
    */
  private[graft] def embeddingIdCeiling(spark: SparkSession,
                                        sfDir: String): Long =
    IndexStore.cached("idCeiling", sfDir,
      IndexStore.FromSource(sfDir, Seq("embeddings")))(
      Tables.load(spark, sfDir, "embeddings")
        .agg(max(col("vec_id"))).head.getLong(0) + 1L)

  private[graft] def appendBatch(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val ceil = embeddingIdCeiling(spark, sfDir)
    Tables.load(spark, sfDir, "embeddings")
      .select((col("vec_id") + ceil).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.01)).as("v"))
  }

  /** The k-th deterministic embedding injection batch — the streamed
    * chains' growth fixture. Ids re-base into the k-th id-ceiling
    * window ([k·ceiling, (k+1)·ceiling)): every batch is disjoint from
    * the base AND from every other k at ANY corpus — the old
    * fixed-offset scheme (+30k/+50k/…, chosen clear of the FIXTURES'
    * dense id spaces) landed inside the blowup corpora's sparse id
    * range (max ≈ 10.1 M) and the chains' vector_count invariants
    * measured the collision. `rows > 0` slices the `rows` smallest
    * vec_ids first (deterministic on any id distribution — a raw
    * `vec_id < rows` cut is only a slice when ids are dense).
    */
  private[graft] def injectionBatch(spark: SparkSession, sfDir: String,
                                    k: Int, delta: Double,
                                    rows: Long = 0L): DataFrame = {
    val ceil = embeddingIdCeiling(spark, sfDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val sliced =
      if (rows > 0L)
        emb.orderBy(col("vec_id"))
          .limit(math.min(rows, Int.MaxValue.toLong).toInt)
      else emb
    sliced.select((col("vec_id") + k.toLong * ceil).as("vec_id"),
      transform(col("v"), x => x + lit(delta)).as("v"))
  }

  /** HARD gate for the O(batch) IVF append (same zero-row contract as
    * [[annRecallViolations]]): fold the deterministic [[appendBatch]]
    * into a NEW index version, then emit a violation row if an
    * invariant breaks:
    *
    *  - completeness: the appended version must hold base + batch rows
    *    (a lost cluster partition, or a dropped batch row, trips this);
    *  - well-formedness: the codec's malformed-row count must be zero
    *    (PQ: every code array exactly m wide — a partial encode, e.g. a
    *    dropped subspace in the frozen-codebook argmin, trips this even
    *    when row counts look right);
    *  - quality: probing the appended version must reach `recallFloor`
    *    average recall@k against the exact k-NN over the appended corpus
    *    (assigning batch rows to wrong/degenerate centroids trips this
    *    even when counts look right).
    *
    * An empty result is the passing state, checked against a typed
    * zero-row oracle, so an append regression flips the driver's
    * rows_match red.
    */
  def ivfAppendViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          recallFloor: Double = 0.5,
                          batchRows: Long = 0L): DataFrame =
    appendViolations(spark, sfDir, FlatCodec, nQueries, k, recallFloor,
      batchRows)

  /** [[ivfAppendViolations]] on the IVF+PQ layout. The floor sits below
    * the flat gate's 0.5: the probe misses compose with PQ quantization
    * loss (the same ordering the `ivf_pq` vs `ivf` floors encode in
    * [[annRecallViolations]]).
    */
  def ivfPqAppendViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10,
                            recallFloor: Double = 0.35): DataFrame =
    appendViolations(spark, sfDir, fixturePq(spark, sfDir), nQueries, k,
      recallFloor, batchRows = 0L)

  private def appendViolations(spark: SparkSession, sfDir: String,
                               codec: IvfCodec, nQueries: Int, k: Int,
                               recallFloor: Double,
                               batchRows: Long): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    // batchRows > 0 slices the fixture growth batch to its smallest
    // `batchRows` ids — the steady-state micro-batch shape for corpora
    // where the full doubling batch would dominate the measurement (the
    // deep×wide ladder's convention, [[GraphAnn.graphAppendViolations]]);
    // 0 keeps the doubling fixture batch. Tagged out dir: the two
    // regimes' committed artifacts never collide.
    val tag = if (batchRows <= 0L) "" else s"-b$batchRows"
    val fullBatch = appendBatch(spark, sfDir)
    val batch = if (batchRows <= 0L) fullBatch
                else fullBatch.orderBy("vec_id").limit(batchRows.toInt)
    val (out, union) = gateAppend(spark, sfDir, codec, nc, batch, tag)
    val nBase = embeddingCount(spark, sfDir)
    val nOut = nBase + (if (batchRows <= 0L) nBase else batchRows)
    val exact = appendUnionExact(spark, sfDir, union, nQueries, k,
      batchTag = tag)
    val approx = codec.search(spark, out, queryVectors(spark, sfDir,
      nQueries), union, k, resolveProbe(nc, 0), nQueries.toLong)
    val rows = IndexStore.readUnion(spark,
      ivfLayout(spark, out, codec.data).segments)
    // ONE action for the scalar checks (r17: was three to four jobs)
    val g = Actions.gauges(Seq(
      "n_out" -> rowCount(rows),
      "hits" -> hitCount(exact, approx),
      "n_exact" -> rowCount(exact)) ++ malformedGauge(codec, rows): _*)
    val recall = g("hits") / g("n_exact")
    violationRows(spark,
      Option.when(g("n_out") != nOut)(
        ("vector_count", nOut.toDouble, g("n_out"))),
      codeWidth(g),
      Option.when(recall < recallFloor)(
        ("avg_recall", recallFloor, r4(recall))))
  }

  /** HARD gate for index REFIT — the lifecycle step after appends: an
    * appended version keeps assigning new vectors to the ORIGINAL
    * centroids (exactly how FAISS IVF adds work) and, on IVF+PQ, encoding
    * them with the FROZEN codebooks ([[pqEncode]] — FAISS
    * `IndexIVFPQ.add`), so after enough growth both are stale — fit on
    * half the corpus, sized √(n/2) when the corpus warrants √n. The
    * refit re-runs the SAME builds over the appended corpus at its own
    * auto sizes — centroids through [[buildIvfOver]] (one build path,
    * shared by every codec), codebooks through [[Quantize.buildPqOver]]
    * composed by [[composeIvfPq]] — and the gate emits a violation row
    * (zero rows = passing, typed zero-row oracle) if an invariant breaks:
    *
    *  - completeness: the refit index must hold exactly the appended
    *    corpus's rows (a dropped cluster in the rewrite trips this);
    *  - well-formedness: the codec's malformed-row count must be zero;
    *  - quality: probing the refit index must reach at least the
    *    APPENDED version's recall minus `eps` — refreshing centroids or
    *    codebooks must never cost recall (it typically gains: the refit
    *    sees the grown corpus, and the auto probe fraction is
    *    size-consistent again).
    *
    * Build-once: the refit index persists behind committed gates, so
    * the O(corpus) re-fit prices like every other index build — in the
    * build phase, not the query path.
    */
  def ivfRefitViolations(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         eps: Double = 0.05): DataFrame =
    refitViolations(spark, sfDir, FlatCodec, nQueries, k, eps)

  /** [[ivfRefitViolations]] on the IVF+PQ layout: centroids AND
    * codebooks re-trained over the grown corpus.
    */
  def ivfPqRefitViolations(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           eps: Double = 0.05): DataFrame =
    refitViolations(spark, sfDir, fixturePq(spark, sfDir), nQueries, k, eps)

  private def refitViolations(spark: SparkSession, sfDir: String,
                              codec: IvfCodec, nQueries: Int, k: Int,
                              eps: Double): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val (appended, union) =
      gateAppend(spark, sfDir, codec, nc, appendBatch(spark, sfDir))
    val n2 = 2 * embeddingCount(spark, sfDir)
    val nc2 = autoClusters(n2)
    val refitIvf = IndexStore.indexDir(sfDir,
      s"${FlatCodec.name(nc2)}-refit-v2", "embeddings")
    if (!ivfLayout(spark, refitIvf).committed)
      buildIvfOver(spark, union, nc2, refitIvf)
    val (refitCodec, refit) =
      codec.refit(spark, sfDir, union, n2, nc2, refitIvf)
    val queries = queryVectors(spark, sfDir, nQueries)
    // the committed appended-corpus truth + ONE action for the scalar
    // checks (r17: was up to six sequential jobs)
    val exact = appendUnionExact(spark, sfDir, union, nQueries, k)
    def hitsAt(c: IvfCodec, dir: String, p: Int): DataFrame = hitCount(
      exact, c.search(spark, dir, queries, union, k, p, nQueries.toLong))
    val rows = IndexStore.readUnion(spark,
      ivfLayout(spark, refit, refitCodec.data).segments)
    val g = Actions.gauges(Seq(
      "n_refit" -> rowCount(rows),
      "hits_before" -> hitsAt(codec, appended, resolveProbe(nc, 0)),
      "hits_after" -> hitsAt(refitCodec, refit, resolveProbe(nc2, 0)),
      "n_exact" -> rowCount(exact)) ++ malformedGauge(refitCodec, rows): _*)
    val before = g("hits_before") / g("n_exact")
    val after = g("hits_after") / g("n_exact")
    violationRows(spark,
      Option.when(g("n_refit") != n2)(
        ("vector_count", n2.toDouble, g("n_refit"))),
      codeWidth(g),
      Option.when(after < before - eps)(
        ("refit_recall", r4(before - eps), r4(after))))
  }

  /** HARD gate for index DELETION — the lifecycle event between append
    * and compact (takedowns/retention; the reference's `IndexIDMap`,
    * `main.py:60-62`, makes entries id-addressable for exactly this):
    * fold the deterministic [[appendBatch]] into a version, DELETE every
    * 5th batch id via an O(batch) tombstone version ([[deleteAt]]), then
    * emit a violation row (zero rows = passing, typed zero-row oracle)
    * if an invariant breaks:
    *
    *  - exclusion: searching the deleted version must return NO
    *    tombstoned id (a read path that misses the tombstone anti-join
    *    trips this);
    *  - merge-on-read completeness: the live view must hold exactly
    *    base + batch − deleted rows;
    *  - physical drop (flat, [[IvfCodec.compacts]]): compacting the
    *    deleted version must leave exactly the live rows on disk
    *    (tombstones resolved, not carried);
    *  - quality: probing the compacted index (flat) or the deleted
    *    version (PQ) must reach `recallFloor` average recall@k against
    *    the exact k-NN over the live corpus — deletion must not degrade
    *    what remains.
    */
  def ivfDeleteViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          recallFloor: Double = 0.5): DataFrame =
    deleteViolations(spark, sfDir, FlatCodec, nQueries, k, recallFloor)

  /** [[ivfDeleteViolations]] on the IVF+PQ layout, at the PQ append
    * gate's floor (quantization loss composes with probe misses,
    * deletion must add nothing).
    */
  def ivfPqDeleteViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10,
                            recallFloor: Double = 0.35): DataFrame =
    deleteViolations(spark, sfDir, fixturePq(spark, sfDir), nQueries, k,
      recallFloor)

  private def deleteViolations(spark: SparkSession, sfDir: String,
                               codec: IvfCodec, nQueries: Int, k: Int,
                               recallFloor: Double): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val batch = appendBatch(spark, sfDir)
    val (appended, union) = gateAppend(spark, sfDir, codec, nc, batch)
    val delIds = batch.select(col("vec_id"))
      .filter(col("vec_id") % 5 === 0)
    val deleted = IndexStore.indexDir(sfDir, s"${codec.name(nc)}-del-v2",
      "embeddings")
    deleteAt(spark, codec.data, appended, delIds, deleted,
      IndexStore.DefaultMaxSegments)
    // the live corpus and its committed exact truth — one artifact
    // serves every codec's delete gate
    val live = union.join(delIds, Seq("vec_id"), "left_anti")
    val exact = appendUnionExact(spark, sfDir, live, nQueries, k,
      batchTag = "-del")
    val queries = queryVectors(spark, sfDir, nQueries)
    def search(dir: String): DataFrame = codec.search(spark, dir, queries,
      live, k, resolveProbe(nc, 0), nQueries.toLong)
    val res = search(deleted)
    val compacted = Option.when(codec.compacts) {
      val dir = IndexStore.indexDir(sfDir, s"${codec.name(nc)}-delc-v2",
        "embeddings")
      if (!ivfLayout(spark, dir).committed) compactIvfTo(spark, deleted, dir)
      dir
    }
    // ONE action for the scalar checks (r17: was five to six jobs)
    val g = Actions.gauges(Seq(
      "n_del" -> rowCount(delIds),
      "deleted_in_results" -> rowCount(res.join(
        delIds.select(col("vec_id").as("id")), Seq("id"), "left_semi")),
      "n_live" -> rowCount(ivfLiveVectors(spark, deleted, codec.data)),
      "hits" -> hitCount(exact, compacted.fold(res)(search)),
      "n_exact" -> rowCount(exact)) ++
      compacted.map(d => "n_compact" -> rowCount(ivfVectors(spark, d))): _*)
    val nLive = 2 * embeddingCount(spark, sfDir) - g("n_del")
    val recall = g("hits") / g("n_exact")
    violationRows(spark,
      Option.when(g("deleted_in_results") != 0)(
        ("deleted_in_results", 0.0, g("deleted_in_results"))),
      Option.when(g("n_live") != nLive)(("live_count", nLive, g("n_live"))),
      g.get("n_compact").filter(_ != nLive).map(("compact_count", nLive, _)),
      Option.when(recall < recallFloor)((
        if (compacted.isEmpty) "avg_recall" else "post_compact_recall",
        recallFloor, r4(recall))))
  }

  /** The IVF+PQ codec at the fixture's auto-sized m and nk. */
  private def fixturePq(spark: SparkSession, sfDir: String): PqCodec =
    PqCodec(Quantize.resolveM(spark, sfDir, 0),
      Quantize.resolveCodes(spark, sfDir, 0))

  /** The lifecycle gates' appended version: `batch` folded into the
    * codec's build-once base at a committed dir ([[appendAt]] is
    * replay-idempotent on it, so one codec's append, refit and delete
    * gates share ONE append job). Returns (dir, the appended corpus
    * base ∪ batch, normalized exactly as the index stores it).
    */
  private def gateAppend(spark: SparkSession, sfDir: String,
                         codec: IvfCodec, nc: Int, batch: DataFrame,
                         tag: String = ""): (String, DataFrame) = {
    val out = IndexStore.indexDir(sfDir,
      s"${codec.name(nc)}-app$tag-v${codec.appVersion}", "embeddings")
    appendAt(spark, codec, codec.base(spark, sfDir, nc), batch, out,
      IndexStore.DefaultMaxSegments)
    (out, normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v"))))
  }

  private[graft] def rowCount(df: DataFrame): DataFrame =
    df.agg(count(lit(1)))

  /** Recall numerator: exact (query_id, id) pairs the approximate top-k
    * also returned.
    */
  private[graft] def hitCount(exact: DataFrame, approx: DataFrame)
      : DataFrame =
    rowCount(exact.join(approx.select(col("query_id"), col("id")),
      Seq("query_id", "id"), "left_semi"))

  /** The codec-only well-formedness gauge ([[IvfCodec.malformed]]) and
    * its `code_width` violation row.
    */
  private def malformedGauge(codec: IvfCodec,
                             rows: DataFrame): Seq[(String, DataFrame)] =
    codec.malformed.map(c => "bad_width" -> rowCount(rows.filter(c))).toSeq
  private def codeWidth(g: Map[String, Double])
      : Option[(String, Double, Double)] =
    g.get("bad_width").filter(_ != 0).map(("code_width", 0.0, _))

  /** A zero-row gate's result: one (invariant, expected, actual) row per
    * violated invariant.
    */
  private[graft] def violationRows(spark: SparkSession,
                                   viols: Option[(String, Double, Double)]*)
      : DataFrame = {
    import spark.implicits._
    viols.flatten.toDF("invariant", "expected", "actual").orderBy("invariant")
  }

  private[graft] def r4(x: Double): Double = math.round(x * 10000.0) / 10000.0

  /** Disk-committed exact truth over the APPENDED corpus (base ∪ the
    * deterministic growth batch) per (fixture fingerprint, Q, k, batch
    * tag) — the [[exactKnnAt]] discipline applied to the append/refit
    * gates' denominator, shared by BOTH index families (the graph gates
    * had a per-JVM cache; the IVF gates re-ran the brute force per
    * call). The truth is a pure function of the fixture, so committing
    * it once per fingerprint weakens no gate: the alarms re-run the
    * INDEX path per call, only the bit-identical denominator is read.
    * `union` is consumed only on the first (building) call.
    */
  private[graft] def appendUnionExact(spark: SparkSession, sfDir: String,
                                      union: DataFrame, nQueries: Int,
                                      k: Int,
                                      batchTag: String = ""): DataFrame = {
    val dir = IndexStore.indexDir(sfDir,
      s"exact-app-$nQueries-$k$batchTag-v1", "embeddings")
    if (!IndexStore.committed(dir)) {
      val truth = unionExactTopK(union,
        queryVectors(spark, sfDir, nQueries), k)
      IndexStore.saveDataset(truth.coalesce(1), dir)
      Checkpoints.release(truth)
    }
    IndexStore.readCached(spark, dir)
  }

  /** Average recall@k of probing the index at `dir` against the exact
    * k-NN over an explicit normalized corpus — the shared measurement of
    * both append gates (batch and streamed). `expectedQ` is the CALLER's
    * known query count (required, no default): a recall gauge over a
    * large query batch must take the driver-safe joined probe exactly
    * like a search would. `exactOverride` supplies an already-committed
    * truth frame (the append/refit gates' [[appendUnionExact]]) so the
    * brute force isn't re-run per call; the numerator and denominator
    * fold into ONE action ([[Actions.gauges]], r17 — was two).
    */
  private[graft] def probeRecall(spark: SparkSession, dir: String,
                                 union: DataFrame, queries: DataFrame,
                                 k: Int, nProbe: Int,
                                 expectedQ: Long,
                                 exactOverride: Option[DataFrame] = None)
      : Double = {
    val exact = exactOverride.getOrElse(unionExactTopK(union, queries, k))
    val approx = searchIndexAt(spark, dir, queries, k, nProbe, expectedQ)
    val g = Actions.gauges("hits" -> hitCount(exact, approx),
      "n_exact" -> rowCount(exact))
    g("hits") / g("n_exact")
  }

  /** Exact top-k (query_id, id) over an explicit normalized corpus — the
    * shared truth set of every append-gate recall measurement, so the
    * flat and PQ gates can never drift in their exact baseline.
    */
  private[graft] def unionExactTopK(union: DataFrame,
                                    queries: DataFrame,
                                    k: Int): DataFrame =
    VectorSearch.topK(
      union.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
      .select(col("query_id"), col("id")).localCheckpoint(true)

  /** The fixture's auto-sized PQ codebook cardinality — exposed so specs
    * drive the append-at-dir path with the same nk the build used.
    */
  private[graft] def pqCodebookSize(spark: SparkSession,
                                    sfDir: String): Int =
    Quantize.resolveCodes(spark, sfDir, 0)

  private[graft] def defaultProbe(spark: SparkSession,
                                  sfDir: String): Int = {
    val nc = resolveClusters(spark, sfDir, 0)
    resolveProbe(nc, 0)
  }

  private[graft] def normalizedCorpus(spark: SparkSession,
                                      sfDir: String): DataFrame =
    normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))

  private[graft] def fixtureQueries(spark: SparkSession, sfDir: String,
                                    nQueries: Int): DataFrame =
    queryVectors(spark, sfDir, nQueries)

  private[graft] def ensureIvfIndex(spark: SparkSession,
                                    sfDir: String): String =
    loadOrBuildIvf(spark, sfDir, 0)

  /** Build-once IVF index over the hashed-BoW DOCUMENT embedding space
    * ([[VectorSearch.textEmbed]]) — the index the hybrid retrieval
    * stack's vector leg rides ([[TfIdf.hybridSearchAnn]]), so the query
    * every RAG stack runs stops exact-scanning the corpus at scale. Goes
    * through the ONE [[buildIvfOver]] fit (doc embeddings are already
    * unit-normalized by textEmbed), keyed to the `documents` source
    * fingerprint.
    */
  private[graft] def loadOrBuildDocIvf(spark: SparkSession, sfDir: String,
                                       dim: Int = 16): String = {
    val nc = autoClusters(tableCount(spark, sfDir, "documents"))
    val dir = IndexStore.indexDir(sfDir, s"ivfdoc$nc-$dim-v1", "documents")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val corpus = VectorSearch.textEmbed(
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")), dim)
        .select(col("doc_id").as("vec_id"), col("v"))
      buildIvfOver(spark, corpus, nc, dir)
    }
    dir
  }

  /** Probe count for a retrieval leg asking for the top `perLeg` of an
    * n-row corpus: when the requested depth is a noticeable fraction of
    * the corpus (≥ 1/[[HybridSatFactor]]), probing saturates to a full
    * scan — the standard selectivity switch of any optimizer, and what
    * makes the leg EXACT at fixture scale (the shared-oracle property,
    * same trick as [[filteredProbe]]'s saturation). At 100 TB
    * (perLeg ≪ n/12) the default probe fraction applies and the leg's
    * recall rides the spec floor.
    */
  private[graft] val HybridSatFactor = 12L
  private[graft] def hybridVecProbe(nClusters: Int, perLeg: Int,
                                    n: Long): Int =
    if (perLeg.toLong * HybridSatFactor >= n) nClusters
    else autoProbe(nClusters)

  /** [[VectorSearch.mmrRerank]] with the candidate POOL riding the
    * persisted IVF index instead of the exact broadcast scan — the
    * retrieve→diversify stack index-backed end-to-end, completing the
    * RAG triad next to [[TfIdf.hybridSearchAnn]] (retrieve→fuse). The
    * pool stage is the probe-pruned partitioned scan of `ann_ivf`; the
    * candidates then re-fetch their vectors via a broadcast equi-join
    * (Q·C rows against the corpus — a semi-join-shaped narrow pass, at
    * 100 TB the only corpus touch outside the probed partitions), qsim
    * is re-derived with the SAME codegen ArrayDot as the exact entry,
    * and the greedy runs the shared [[VectorSearch.mmrGreedy]] tail.
    *
    * Probe sizing rides [[hybridVecProbe]]: at fixture scale
    * nCandidates=50 of ≤600 vectors saturates the probe, the pool is
    * EXACTLY the top-C relevance pool, and the entry is bit-identical
    * to `mmr_rerank` (spec-asserted) — so it shares the DuckDB oracle
    * verbatim. At corpus scale the default probe fraction applies and
    * the pool is genuinely approximate (recall rides AnnSpec's
    * non-saturated floor, same regime as the hybrid leg).
    */
  def mmrRerankAnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                   k: Int = 10, nCandidates: Int = 50,
                   lambda: Double = 0.7): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val np = hybridVecProbe(nc, nCandidates, embeddingCount(spark, sfDir))
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    val queries = queryVectors(spark, sfDir, nQueries)
    val cands = searchIndexAt(spark, dir, queries, nCandidates, np,
        expectedQ = nQueries.toLong)
      .select(col("query_id"), col("id"))
    // broadcast hints only while Q·C is broadcast-sized — a batch-query
    // run past the probe threshold drops them and lets the equi-joins
    // shuffle, mirroring searchIndexAt's own joined-strategy switch
    val (candSide, querySide) =
      if (nQueries <= JoinProbeQueryThreshold)
        (broadcast(cands), broadcast(queries))
      else (cands, queries)
    val pool = VectorSearch.normalized(spark, sfDir)
      .select(col("vec_id").as("id"), col("v"))
      .join(candSide, "id")
      .join(querySide, "query_id")
      .select(col("query_id"), col("id"), col("v"),
        graft.functions.VectorOps.dot(col("qu"), col("v")).as("qsim"))
    VectorSearch.mmrGreedy(spark, pool, k, lambda)
  }

  /** HARD gate for the flagships' GENUINELY APPROXIMATE operating point
    * (zero rows = passing, typed zero-row oracle): `hybrid_search_ann`
    * and `mmr_rerank_ann` saturate their probes at fixture scale
    * ([[hybridVecProbe]]) — bit-identical to exact, which is what lets
    * them share the exact entries' DuckDB oracles, but it means the
    * approximate regime they run at corpus scale had no CORRECTNESS row
    * of its own. This gate drives BOTH index legs at the default probe
    * fraction (the regime `hybridVecProbe` selects once perLeg ≪ n),
    * asserts the point is genuinely below saturation, and pins each
    * leg's recall@perLeg against its own saturated (exact) probe:
    *
    *  - `hybrid_probe_saturated` / `mmr_probe_saturated`: the swept
    *    point must sit strictly below the full probe, or the gate is
    *    vacuous (trips only if a fixture shrinks past the autoProbe
    *    collapse);
    *  - `hybrid_leg_recall` / `mmr_pool_recall`: recall of the probed
    *    candidate set against the saturated set, floored — the measured
    *    promise the saturation switch rests on at 100 TB.
    */
  def hybridProbeViolations(spark: SparkSession, sfDir: String,
                            perLeg: Int = 50,
                            recallFloor: Double = 0.6): DataFrame = {
    def legRecall(dir: String, queries: DataFrame, nc: Int,
                  expectedQ: Long): (Int, Double) = {
      val np = autoProbe(nc)
      val exact = searchIndexAt(spark, dir, queries, perLeg, nc, expectedQ)
        .select(col("query_id"), col("id")).localCheckpoint(true)
      val probed = searchIndexAt(spark, dir, queries, perLeg, np, expectedQ)
        .select(col("query_id"), col("id"))
      val hits = exact.join(probed, Seq("query_id", "id"), "left_semi")
        .count()
      (np, hits.toDouble / exact.count())
    }
    val docNc = autoClusters(tableCount(spark, sfDir, "documents"))
    val (docNp, hybridRecall) = legRecall(
      loadOrBuildDocIvf(spark, sfDir),
      TfIdf.hybridQueryVec(spark, sfDir), docNc, expectedQ = 1L)
    val embNc = resolveClusters(spark, sfDir, 0)
    val (embNp, mmrRecall) = legRecall(
      loadOrBuildIvf(spark, sfDir, embNc),
      queryVectors(spark, sfDir, 10), embNc, expectedQ = 10L)
    violationRows(spark,
      Option.when(docNp >= docNc)(
        ("hybrid_probe_saturated", (docNc - 1).toDouble, docNp.toDouble)),
      Option.when(embNp >= embNc)(
        ("mmr_probe_saturated", (embNc - 1).toDouble, embNp.toDouble)),
      Option.when(hybridRecall < recallFloor)(
        ("hybrid_leg_recall", recallFloor, r4(hybridRecall))),
      Option.when(mmrRecall < recallFloor)(
        ("mmr_pool_recall", recallFloor, r4(mmrRecall))))
  }
}
