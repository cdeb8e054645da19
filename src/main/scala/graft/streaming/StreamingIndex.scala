package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.VectorOps.l2Normalize
import graft.operators.{AnnSearch, FusedTopK, GraphAnn, ShardedSearch}
import graft.operators.AnnSearch.{hitCount, r4, rowCount, violationRows}
import graft.sources.IndexStore

/** The reference's ingest endpoint (`POST /add_drawing`,
  * `main.py:104-135`) as a STREAMING pipeline: add-requests land as files,
  * a checkpointed micro-batch query folds each batch into the persisted
  * index with the reference's exact upsert semantics —
  *
  *  - an existing `str_id` gets its text updated but KEEPS its original
  *    faiss_id and vector (`main.py:119-126`);
  *  - new ids get dense sequential faiss_ids continuing after the current
  *    max (`main.py:129-130`);
  *  - new vectors are appended (`main.py:134`).
  *
  * Durability beats the reference's: each micro-batch writes a NEW index
  * version at `root/v<batchId>` (version-swap, never in-place), and the
  * version name is derived from the checkpointed batch id — a
  * crash-and-replay of a batch rewrites the same version from the same
  * predecessor, so the ingest is idempotent end-to-end. Readers take the
  * highest fully-committed version.
  *
  * A version is a MANIFEST ([[IndexStore.writeManifest]]): a tiny
  * committed dataset naming the version's immutable segments — the
  * predecessor's mapping/vector segments re-referenced by path, plus the
  * batch's OWN delta segments (`v<id>/mapping` = the batch's upserted
  * rows only, `v<id>/vectors` = the batch's new vectors only). Per-batch
  * I/O is therefore O(batch) — at 100 TB a micro-batch ingest writes the
  * batch's files plus one manifest, never a rewrite of the corpus. The
  * mapping is resolved MERGE-ON-READ: last-writer-wins per str_id by
  * segment seq ([[loadMappingAt]] — the log-structured upsert pattern of
  * Hudi/Delta MoR tables, public knowledge); vectors are insert-only so
  * their union needs no resolution. Retention is manifest refcounting
  * ([[pruneVersions]]): a segment lives while any surviving manifest
  * references it.
  */
object StreamingIndex {

  /** Add-request schema: user string id, OCR/text payload, embedding,
    * and an optional `op` ("add" default / "delete") — old landing files
    * without the column read as NULL op = add, so the schema extension
    * is backward compatible with every committed landing dir.
    */
  val BatchSchema: StructType = StructType(Seq(
    StructField("str_id", StringType),
    StructField("text", StringType),
    StructField("v", ArrayType(DoubleType)),
    StructField("op", StringType)))

  /** Mapping-segment schema. `deleted` is the LWW DELETE marker — the
    * flat store's tombstone (the reference's LWW upsert keeps the old
    * vector forever, `main.py:119-126`; takedown/retention needs the
    * missing half): a delete writes one delta row (str_id, its
    * faiss_id, NULL text, deleted=true), last-writer-wins resolution
    * applies it exactly like a text update, and a LATER re-add simply
    * out-writes it (with a FRESH faiss_id — ids are never reused, as in
    * `main.py:129-130`). Segments from before the column read as NULL =
    * not deleted, so old committed stores remain readable.
    */
  val MappingSchema: StructType = StructType(Seq(
    StructField("str_id", StringType),
    StructField("faiss_id", LongType),
    StructField("text", StringType),
    StructField("deleted", BooleanType)))

  val VectorSchema: StructType = StructType(Seq(
    StructField("faiss_id", LongType),
    StructField("v", ArrayType(DoubleType))))

  /** Highest fully-committed index version under `root`. A version is
    * committed iff its MANIFEST is — the manifest is always the last
    * artifact written, for every store flavor (flat mapping+vectors and
    * IVF alike), so one marker gates them all. A replayed batch folds
    * from the version below its own id instead ([[predecessor]]).
    */
  def latestVersion(root: String): Option[Long] =
    committedVersions(root).lastOption

  /** All committed (manifested) version ids under `root`, ascending. */
  private def committedVersions(root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(IndexStore.hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .filter(v => IndexStore.committed(s"$root/v$v/manifest"))
      .sorted
  }

  /** Fold one add-batch against the current resolved mapping into the
    * batch's DELTA segments — (upserted mapping rows, new vectors) — the
    * reference's per-request upsert (`main.py:119-135`) batched. Only the
    * batch's own rows come back; the store's history stays in its
    * immutable segments. `batch` must carry
    * unique str_ids (a landing batch is one file of distinct requests;
    * pre-aggregate with LWW if a producer can repeat ids in one batch).
    * Incoming vectors are L2-normalized before storage — the index
    * invariant the reference establishes at `main.py:87` (unit vectors,
    * so L2 ranking ≡ cosine ranking); degenerate zero-norm vectors are
    * the producer's bug, as in the reference.
    */
  def mergeBatch(mapping: DataFrame, rawBatch: DataFrame)
      : (DataFrame, DataFrame) =
    mergeBatchOps(mapping.withColumn("deleted", lit(false)),
      rawBatch.withColumn("op", lit("add")))

  /** [[mergeBatch]] with DELETE support over the RAW (tombstone-
    * carrying) resolved mapping: `rawMapping` must be the LWW-resolved
    * rows INCLUDING deleted ones ([[loadMappingRawAt]]) — the live view
    * drives upsert/exists decisions, but the dense-id continuation MUST
    * count every id ever assigned (a max over the live view would
    * re-issue a deleted id whose vector still sits in the insert-only
    * segments). Batch rows with op = "delete" emit one tombstone delta
    * row each (original faiss_id, NULL text, deleted = true) for ids
    * that currently exist — a delete for an absent/already-deleted id
    * is a no-op, and a delete and re-add across batches allocates a
    * FRESH id (the reference never reuses ids, `main.py:129-130`).
    */
  def mergeBatchOps(rawMapping: DataFrame, rawBatch: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = rawBatch.sparkSession
    val live = rawMapping.filter(!coalesce(col("deleted"), lit(false)))
      .select(col("str_id"), col("faiss_id"), col("text"))
    val isDelete = coalesce(col("op"), lit("add")) === "delete"
    val adds = rawBatch.filter(!isDelete)
      .withColumn("v", l2Normalize(col("v")))
    val dels = rawBatch.filter(isDelete).select(col("str_id"))
      .join(live, Seq("str_id"), "inner")
      .select(col("str_id"), col("faiss_id"),
        lit(null).cast(StringType).as("text"),
        lit(true).as("deleted"))
    // a RE-ADD of a deleted str_id would out-write its LWW tombstone and
    // orphan the old vector back into the ranking — so the revival also
    // emits the tombstone under a synthetic key in the reserved
    // "~tomb-<id>" namespace, which no producer key ever out-writes
    // (producer str_ids must not start with "~tomb-"; the reference's
    // ids are filenames, which cannot). The synthetic rows stay out of
    // the live view (deleted = true) and keep the dead-id set complete
    // for search exclusion; compaction reclaims their VECTORS' space
    // (the tiny rows themselves stay, as all tombstones do, for
    // all-time-max id monotonicity).
    val revived = rawMapping
      .filter(coalesce(col("deleted"), lit(false)))
      .join(adds.select(col("str_id")), Seq("str_id"), "inner")
      .select(concat(lit("~tomb-"), col("faiss_id")).as("str_id"),
        col("faiss_id"), lit(null).cast(StringType).as("text"),
        lit(true).as("deleted"))
    // existing ids: text from the batch wins, faiss_id + vector kept —
    // emitted as DELTA rows (only the upserted ids, never the whole
    // mapping); merge-on-read picks the highest-seq row per str_id
    val updated = live
      .join(adds.select(col("str_id"), col("text").as("new_text")),
        Seq("str_id"), "inner")
      .select(col("str_id"), col("faiss_id"),
        col("new_text").as("text"), lit(false).as("deleted"))
    val news = adds.join(live.select("str_id"), Seq("str_id"),
      "left_anti")
    val maxId = rawMapping.agg(coalesce(max(col("faiss_id")), lit(0L))
      .as("max_id"))
    // dense id continuation without a single-partition window: range
    // partition on the order key, rank per partition, prefix-sum offsets
    // (zipWithIndex), then add the store's current max
    val base = news.select(col("str_id"), col("text"), col("v"))
      .repartitionByRange(col("str_id"))
      .sortWithinPartitions(col("str_id"))
    val withIdx = base.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    val newMapped = spark.createDataFrame(withIdx,
        base.schema.add("rn", LongType))
      .crossJoin(broadcast(maxId))
      .select(col("str_id"), (col("max_id") + col("rn")).as("faiss_id"),
        col("text"), col("v"))
    (updated
      .unionByName(newMapped.select(col("str_id"), col("faiss_id"),
        col("text"), lit(false).as("deleted")))
      .unionByName(dels)
      .unionByName(revived),
      newMapped.select(col("faiss_id"), col("v")))
  }

  /** The version's resolved mapping — merge-on-read over the manifest's
    * mapping segments: union each delta segment tagged with its seq, keep
    * the LAST writer per str_id (an upsert's delta row carries the
    * ORIGINAL faiss_id and the new text, so LWW resolution reproduces the
    * reference's `main.py:119-126` semantics exactly). The per-key window
    * shuffles only the mapping — small next to the vectors — and at scale
    * periodic compaction (rewrite the resolved mapping as one segment)
    * bounds the segment count without changing this reader.
    */
  private[graft] def loadMappingAt(spark: SparkSession,
                                   versionDir: String): DataFrame =
    loadMappingRawAt(spark, versionDir)
      .filter(!coalesce(col("deleted"), lit(false)))
      .select(col("str_id"), col("faiss_id"), col("text"))

  /** The RAW LWW resolution — one row per str_id INCLUDING tombstoned
    * ones (`deleted` carried through; pre-column segments read as NULL
    * = live). Writers need this view: the dense-id continuation counts
    * every id ever assigned, and the search path derives its
    * deleted-faiss_id exclusion set from it.
    */
  private[graft] def loadMappingRawAt(spark: SparkSession,
                                      versionDir: String): DataFrame = {
    val segs = IndexStore.manifestSegments(
      IndexStore.readManifest(spark, versionDir), "mapping")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("str_id").orderBy(col("_seq").desc)
    segs.zipWithIndex
      .map { case (p, i) =>
        spark.read.schema(MappingSchema).parquet(p)
          .withColumn("_seq", lit(i.toLong))
      }
      .reduce(_ unionByName _)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("str_id"), col("faiss_id"), col("text"), col("deleted"))
  }

  /** The version's full vector table: union of its immutable segments —
    * vectors are INSERT-ONLY (a re-add keeps the original vector,
    * `main.py:119-126`), so no resolution step exists.
    */
  private[graft] def loadVectorsAt(spark: SparkSession,
                                   versionDir: String): DataFrame =
    IndexStore.readUnion(spark,
      IndexStore.manifestSegments(
        IndexStore.readManifest(spark, versionDir), "vectors"),
      Some(VectorSchema))

  /** THE checkpointed chain driver every streamed fold runs on: an
    * `AvailableNow` file-source query over `landing` (read as `schema`),
    * checkpointed at `ckpt`, that calls `step(batch, batchId)` once per
    * micro-batch and returns when every file landed at the call has
    * folded. `filesPerTrigger` bounds a micro-batch to that many files
    * (the fixtures stage one batch per file); `None` folds everything
    * landed into one batch. A batch whose offsets were checkpointed but
    * whose commit was not re-runs `step` under the same id with the same
    * files — the replay every step below is written to make idempotent.
    */
  private def runChain(spark: SparkSession, landing: String, ckpt: String,
                       schema: StructType,
                       filesPerTrigger: Option[Int] = Some(1))
                      (step: (DataFrame, Long) => Unit): Unit = {
    val src = spark.readStream.schema(schema)
    filesPerTrigger.fold(src)(n => src.option("maxFilesPerTrigger", n))
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(step)
      .start()
      .awaitTermination()
  }

  /** The committed predecessor of batch `batchId` under `root` — the
    * version the batch folds from, resolved BELOW its own id so a
    * crash-replay of batch n folds into n's true predecessor, never
    * into n's own half-committed output. Batch ids only ever grow under
    * one checkpoint, so a committed version STRICTLY ABOVE the batch id
    * means the checkpoint was lost/cleared (ids restarted) or points at
    * a different root: folding from a stale base would silently rewrite
    * history under readers, so it fails loudly instead. (A version
    * equal to the batch id is a legitimate replay of this very batch.)
    */
  private def predecessor(root: String, batchId: Long): Option[Long] = {
    val committed = committedVersions(root)
    committed.lastOption.filter(_ > batchId).foreach { v =>
      throw new IllegalStateException(
        s"index root $root has committed version v$v > batch $batchId" +
          ": checkpoint/root mismatch (lost checkpoint or wrong dir)" +
          " — refusing to rewrite history")
    }
    committed.filter(_ < batchId).lastOption
  }

  /** [[predecessor]]'s version dir, or `base` for the chain's first. */
  private def predecessorDir(root: String, batchId: Long,
                             base: String): String =
    predecessor(root, batchId).fold(base)(v => s"$root/v$v")

  /** Process every add-file currently in `srcDir` (Trigger.AvailableNow)
    * into versioned index snapshots under `root`, checkpointing source
    * progress in `ckptDir`. Re-invocations resume from the checkpoint:
    * already-folded files are never re-read, a replayed batch rewrites
    * its own version deterministically.
    *
    * Segment growth is bounded IN the chain: when appending a delta
    * would push the mapping past `maxSegments` segments
    * ([[IndexStore.DefaultMaxSegments]]), the batch's version is written
    * COMPACTED — the resolved mapping and full vector set as the
    * version's own single segments, manifest referencing nothing older —
    * so merge-on-read never unions more than `maxSegments` scans no
    * matter how long the ingest runs. The decision reads only the
    * predecessor's manifest: a crash-replay of the batch re-decides
    * identically.
    */
  def ingestAvailable(spark: SparkSession, srcDir: String, root: String,
                      ckptDir: String,
                      maxSegments: Int =
                        IndexStore.DefaultMaxSegments): Unit =
    runChain(spark, srcDir, ckptDir, BatchSchema, filesPerTrigger = None) {
      (batch, batchId) =>
        val prevVer = predecessor(root, batchId)
        val prev = prevVer
          .map(v => IndexStore.readManifest(spark, s"$root/v$v"))
          .getOrElse(Seq.empty)
        val prevRaw = prevVer
          .map(v => loadMappingRawAt(spark, s"$root/v$v"))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], MappingSchema))
        val (delta, newVecs) = mergeBatchOps(prevRaw, batch)
        val mSeg = s"$root/v$batchId/mapping"
        val vSeg = s"$root/v$batchId/vectors"
        if (prev.count(_._1 == "mapping") + 1 > maxSegments) {
          // compaction trigger (see scaladoc): resolved state as the
          // version's own single segments — delta ∪ untouched survivors
          // is exactly what merge-on-read LWW would resolve, computed
          // here once instead of on every future read. TOMBSTONE rows
          // stay in the compacted mapping (tiny, and dropping them
          // would regress the all-time max id → id reuse against the
          // insert-only vector segments); their VECTORS are dropped
          // physically — the delete's storage reclaim
          val resolved = delta.unionByName(
            prevRaw.join(delta.select("str_id"), Seq("str_id"),
              "left_anti")).localCheckpoint(true)
          IndexStore.saveDataset(resolved, mSeg)
          val deadIds = resolved
            .filter(coalesce(col("deleted"), lit(false)))
            .select(col("faiss_id"))
          IndexStore.saveDataset(prevVer
            .map(v => loadVectorsAt(spark, s"$root/v$v"))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], VectorSchema))
            .unionByName(newVecs)
            .join(broadcast(deadIds), Seq("faiss_id"), "left_anti"), vSeg)
          IndexStore.writeManifest(spark, s"$root/v$batchId",
            Seq(("mapping", mSeg, batchId), ("vectors", vSeg, batchId)))
          // committed — the fold's working checkpoint is dead; release
          // now rather than one generation per trigger until a GC
          // ([[graft.operators.Checkpoints]])
          graft.operators.Checkpoints.release(resolved)
        } else {
          // the batch's OWN segments only — O(batch) files per version
          IndexStore.saveDataset(delta, mSeg)
          IndexStore.saveDataset(newVecs, vSeg)
          // LAST: the manifest (predecessor's segments re-referenced +
          // the two new ones) commits the version
          IndexStore.writeManifest(spark, s"$root/v$batchId",
            prev ++ Seq(("mapping", mSeg, batchId),
              ("vectors", vSeg, batchId)))
        }
    }

  /** The read side of the streamed lifecycle — the reference's
    * `POST /search_drawing` (`main.py:138-165`) against the latest
    * committed snapshot: rank the version's vectors by squared L2 to the
    * query, keep top-k, remap to user-facing ids via the same version's
    * mapping (inner join = drop-on-miss, `main.py:158-163`), as
    * (id, distance) rows ordered by (distance, id). An empty or absent
    * index returns an empty frame, not an error (the reference's
    * empty-index guard, `main.py:152-153`).
    *
    * At most three small jobs, and a local result frame: the dead
    * faiss_ids of a version not read before ([[deadIds]]), one
    * TakeOrdered scan of the vectors, and one `isin` scan of the
    * mapping for the ≤ k ranked ids. Both rest on the store's id
    * discipline ([[mergeBatchOps]]): a faiss_id belongs to one str_id
    * for life, and no row after a tombstone revives it (a re-add
    * allocates a fresh id). So the ids whose str_id's newest row is a
    * tombstone are exactly the ids any tombstone row names, and a live
    * id's newest row among its own rows is its str_id's newest row.
    */
  def searchLatest(spark: SparkSession, root: String, query: Seq[Double],
                   k: Int = 10): DataFrame = {
    import graft.functions.VectorOps.squaredL2
    val hits = latestVersion(root).map(v => s"$root/v$v").fold(
        Seq.empty[(String, Any)]) { dir =>
      val segs = IndexStore.manifestSegments(
        IndexStore.readManifest(spark, dir), "mapping")
      // tombstoned ids must leave the RANKING, not just the remap — a
      // join-only exclusion would let deleted vectors burn top-k slots
      // and shrink results below k. The dead set is O(deletes since
      // compaction) (compaction drops the vectors physically), so the
      // scan ranks that many rows more and the driver drops them
      val dead = deadIds(spark, dir, segs)
      // normalize the query exactly as the stored side was (main.py:87
      // normalizes BOTH sides; same left-fold sum + divide → bit-identical
      // to the codegen normalizer, so a self-query lands at distance 0)
      val norm = math.sqrt(query.map(x => x * x).sum)
      val q = array((if (norm > 0) query.map(_ / norm) else query)
        .map(lit): _*)
      // orderBy+limit plans TakeOrdered over the scan
      val top = loadVectorsAt(spark, dir)
        .select(col("faiss_id"), squaredL2(q, col("v")).as("distance"))
        .orderBy(col("distance"), col("faiss_id")).limit(k + dead.size)
        .collect().toSeq
        .filterNot(r => !r.isNullAt(0) && dead(r.getLong(0))).take(k)
        .filterNot(_.isNullAt(0))
      val ids = top.map(_.getLong(0)).distinct
      // each ranked id's live str_ids: the newest row per str_id among
      // the ranked ids' rows, unless it is a tombstone
      val strs = if (ids.isEmpty) Map.empty[Long, Seq[String]]
        else segs.zipWithIndex.map { case (p, i) =>
          spark.read.schema(MappingSchema).parquet(p)
            .filter(col("faiss_id").isin(ids: _*))
            .select(col("str_id"), col("faiss_id"),
              coalesce(col("deleted"), lit(false)), lit(i))
        }.reduce(_ unionAll _).collect().toSeq
          .groupBy(r => Option(r.getString(0))).values
          .map(_.maxBy(_.getInt(3))).filterNot(_.getBoolean(2)).toSeq
          .groupMap(_.getLong(1))(_.getString(0))
      top.flatMap(r => strs.getOrElse(r.getLong(0), Nil)
        .map(s => (s, if (r.isNullAt(1)) null
          else FusedTopK.rounded(r.getDouble(1)))))
    }
    // (distance, id), NULLs first, in SQL order
    def nullsFirst[T](x: T, y: T)(c: (T, T) => Int): Int =
      if (x == null || y == null) java.lang.Boolean.compare(y == null,
        x == null)
      else c(x, y)
    val rows = hits.sortWith { case ((s1, d1), (s2, d2)) =>
      val byDist = nullsFirst(d1, d2)((a, b) => SQLOrderingUtil
        .compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double]))
      (if (byDist != 0) byDist else nullsFirst(s1, s2)((a, b) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))) < 0
    }.map { case (s, d) => Row(s, d) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", StringType), StructField("distance", DoubleType))))
  }

  /** The faiss_ids any tombstone row of version `dir`'s mapping `segs`
    * names, on the driver: one scan, once per committed version
    * ([[IndexStore.cached]]).
    */
  private def deadIds(spark: SparkSession, dir: String,
                      segs: Seq[String]): Set[Long] =
    IndexStore.cached("deadIds", dir, IndexStore.AtPath(s"$dir/manifest"))(
      segs.map(spark.read.schema(MappingSchema).parquet(_))
        .reduce(_ unionAll _)
        .filter(coalesce(col("deleted"), lit(false)))
        .select(col("faiss_id")).collect()
        .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet)

  /** Retention for the versioned snapshot store: delete committed
    * versions older than the newest `keep` (default 2 — serving version
    * plus one rollback target). The operational complement of
    * version-swap durability: without it a long-running ingest
    * accumulates every snapshot ever written. Safety rails —
    *
    *  - the LATEST committed version is never deletable (keep >= 1);
    *  - UNCOMMITTED directories are left alone: an uncommitted v_max may
    *    be a replay in progress, and deleting a crashed attempt's
    *    leftovers is the replaying writer's job, not the vacuum's.
    *
    * Returns the deleted version ids (sorted). keep >= 2 is a REPLAY
    * safety requirement, not just reader courtesy: a crash after v(n)
    * commits but before the streaming checkpoint records batch n means
    * batch n replays on restart and folds from v(n-1) — if retention had
    * deleted v(n-1), the replay would silently rebuild v(n) from an
    * EMPTY base. Keeping two committed versions guarantees the newest
    * version's predecessor survives any single vacuum cycle (and gives
    * mid-scan readers object-store-delete lag).
    */
  def pruneVersions(spark: SparkSession, root: String,
                    keep: Int = 2): Seq[Long] = {
    require(keep >= 2,
      s"keep $keep: a checkpointed replay of the newest batch folds from" +
        " its predecessor - retention must keep at least 2 versions")
    val p = new Path(root)
    val fs = p.getFileSystem(IndexStore.hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    val committed = committedVersions(root)
    val doomed = committed.dropRight(keep)
    if (doomed.isEmpty) return doomed
    // manifest REFCOUNTING: everything any SURVIVING manifest references
    // is live — including segments that physically sit inside a doomed
    // version's dir (the append chain re-references its whole history).
    // Paths are FileSystem-qualified on both sides so a manifest's raw
    // string and listStatus's URI form can never miscompare.
    def qualify(s: String): String =
      fs.makeQualified(new Path(s)).toString
    val live = committed.takeRight(keep)
      .flatMap(v => IndexStore.readManifest(spark, s"$root/v$v"))
      .map(e => qualify(e._2)).toSet
    // the doomed version's manifest dies (it is what makes the version
    // resolvable); its segments die only if no survivor references
    // them. The sweep RECURSES into directories that are prefixes of a
    // live path (the graph chain nests its segments under `seg/app/…`;
    // deleting the unreferenced parent wholesale would take referenced
    // children with it — the vacuum must be layout-agnostic, not
    // flat-layout-shaped).
    def sweep(p: Path): Unit = {
      val q = qualify(p.toString)
      if (live.contains(q)) return
      val st = fs.getFileStatus(p)
      if (st.isDirectory && live.exists(_.startsWith(q + "/"))) {
        fs.listStatus(p).foreach(c => sweep(c.getPath))
        if (fs.listStatus(p).isEmpty) fs.delete(p, false)
      } else fs.delete(p, true)
    }
    doomed.foreach { v =>
      val vDir = new Path(s"$root/v$v")
      fs.listStatus(vDir).foreach(c => sweep(c.getPath))
      if (fs.listStatus(vDir).isEmpty) fs.delete(vDir, false)
    }
    doomed
  }

  /** Compact the newest committed version into a standalone one-segment
    * store at `out` — the read-amplification bound of every
    * log-structured table format: merge-on-read until the segment list
    * grows long, then one compaction job rewrites the RESOLVED state as
    * a single segment per artifact and a fresh manifest referencing only
    * those. `out` is a separate root (version v0 of a new chain), so the
    * live chain is never touched — crash-safe by construction (a crashed
    * compaction leaves an uncommitted `out` and the old root serving),
    * and the caller swaps roots when `latestVersion(out)` is defined.
    * Cost: one full read + write of the store — amortized across the
    * many O(batch) appends it re-arms.
    */
  def compactTo(spark: SparkSession, root: String, out: String): Unit = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    val src = s"$root/v$v"
    val mSeg = s"$out/v0/mapping"
    val vSeg = s"$out/v0/vectors"
    // tombstone rows stay (id monotonicity — see the in-chain fold);
    // their vectors are dropped physically
    val raw = loadMappingRawAt(spark, src).localCheckpoint(true)
    IndexStore.saveDataset(raw, mSeg)
    IndexStore.saveDataset(loadVectorsAt(spark, src)
      .join(broadcast(raw.filter(coalesce(col("deleted"), lit(false)))
        .select(col("faiss_id"))), Seq("faiss_id"), "left_anti"), vSeg)
    // LAST: the manifest commits the compacted version
    IndexStore.writeManifest(spark, s"$out/v0",
      Seq(("mapping", mSeg, 0L), ("vectors", vSeg, 0L)))
    // committed — the compaction's working checkpoint is dead
    graft.operators.Checkpoints.release(raw)
  }

  /** Stage `df` as flat `<prefix>-<i>.parquet` files inside the landing
    * dir (what a producer dropping add-request files would do). Idempotent:
    * if the prefix's first file already landed, the batch is already there
    * — and the checkpoint tracks processed paths anyway.
    */
  private[graft] def stageInto(df: DataFrame, landing: String,
                               prefix: String): Unit = {
    val landingPath = new Path(landing)
    val fs = landingPath.getFileSystem(IndexStore.hadoopConf)
    if (fs.exists(new Path(landing, s"$prefix-0.parquet"))) return
    val tmp = s"$landing-stage-$prefix"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs.mkdirs(landingPath)
    fs.listStatus(new Path(tmp)).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .zipWithIndex.foreach { case (st, i) =>
        fs.rename(st.getPath, new Path(landing, s"$prefix-$i.parquet"))
      }
    fs.delete(new Path(tmp), true)
  }

  /** Stage `batches` in order as `batch<i>` files of the landing dir
    * (one file each: [[runChain]]'s one-file triggers fold one batch per
    * micro-batch) and fix their delivery order. The file source orders
    * batches by modification time with no path tie-break, and mtime
    * resolution need not separate two writes, so the staged files'
    * mtimes are set 10 s apart in `batches` order.
    */
  private[graft] def stageBatches(landing: String,
                                  batches: DataFrame*): Unit = {
    batches.zipWithIndex.foreach { case (b, i) =>
      stageInto(b, landing, s"batch$i")
    }
    val now = System.currentTimeMillis()
    for (f <- new java.io.File(landing).listFiles();
         i <- batches.indices if f.getName.startsWith(s"batch$i-"))
      f.setLastModified(now - 10000L * (batches.size - 1 - i))
  }

  /** The order-disciplined folds' refusal: a batch whose low-water mark
    * sits at or below the predecessor's placed high-water mark cannot be
    * committed without rewriting already-served results. A DEDICATED
    * type (not a message substring) so [[wipeIfMisordered]]'s cause-walk
    * match survives any rewording of the diagnostic text.
    */
  private[graft] final class MisorderedBatchException(msg: String)
    extends IllegalStateException(msg)

  /** Terminal handler for the order-disciplined folds (sequence pack,
    * event anomalies): wipe the run's derived state ONLY for the
    * out-of-order refusal — that is a poison state a bare checkpoint
    * retry would replay forever, so landing/checkpoint/versions must be
    * rebuilt from the fixture. Any OTHER failure (disk, OOM, an
    * interrupted query) keeps the checkpoint intact so the stream can
    * resume exactly where it left off — that recoverability is the
    * whole point of the replay discipline. The misorder surfaces here
    * wrapped in a StreamingQueryException, so we walk the cause chain
    * matching on the dedicated exception TYPE.
    */
  private[graft] def wipeIfMisordered(root: String,
                                      e: Throwable): Nothing = {
    val misordered = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[MisorderedBatchException])
    if (misordered)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
    throw e
  }

  /** 7-digit pad: Spark and DuckDB `lpad` both TRUNCATE strings longer
    * than the pad length, so a 5-digit pad would cut doc_id+10000 ≥ 100000
    * to 5 chars and silently collide new adds into updates. 7 digits keeps
    * every doc_id < 10^7 - 10000 collision-free; the fixture's dense-id
    * ordering additionally assumes base doc_ids < 10000 (the 10000 shift
    * makes every new id sort after every base id).
    */
  private def strId(c: org.apache.spark.sql.Column) =
    concat(lit("doc-"), lpad(c.cast("string"), 7, "0"))

  /** End-to-end fixture run of the streaming ingest: batch 0 adds every
    * document (text + embedding), batch 1 re-adds every 3rd id with
    * uppercased text and a DIFFERENT embedding (which must be ignored —
    * the reference keeps the original vector on re-add) plus 10000-shifted
    * brand-new ids. The two batches go through two checkpointed
    * AvailableNow invocations — the restart path, not one big batch.
    * Returns the final mapping (str_id, faiss_id, text): dense ids in
    * str_id order, batch-1 text for updated ids, continuation ids for new
    * ones. Deterministic, so the DuckDB oracle checks the whole streaming
    * upsert end-to-end; vector-kept semantics are spec-asserted.
    */
  def streamingIndexIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = IndexStore.indexDir(sfDir, "stream-index-v4", "documents")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    if (!latestVersion(root).exists(_ >= 1L)) {
      val docs = Tables.load(spark, sfDir, "documents")
      val emb = Tables.load(spark, sfDir, "embeddings")
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val b0 = joined.select(strId(col("doc_id")).as("str_id"),
        col("text"), col("v"))
      stageInto(b0, landing, "batch0")
      ingestAvailable(spark, landing, root, ckpt)
      val upd = joined.filter(col("doc_id") % 3 === 0)
        .select(strId(col("doc_id")).as("str_id"),
          upper(col("text")).as("text"),
          transform(col("v"), x => x + 0.5).as("v"))
      val nw = joined.select(strId(col("doc_id") + 10000).as("str_id"),
        col("text"), transform(col("v"), x => x + 0.01).as("v"))
      stageInto(upd.unionByName(nw), landing, "batch1")
      ingestAvailable(spark, landing, root, ckpt)
    }
    val v = latestVersion(root).get
    loadMappingAt(spark, s"$root/v$v").orderBy("str_id")
  }

  /** The reference's full add-then-search lifecycle (`POST /add_drawing`
    * then `POST /search_drawing`, `main.py:104` → `main.py:138`) under
    * streaming: run [[streamingIndexIngest]] (idempotent — both fixture
    * batches fold through the checkpointed stream if not already
    * committed), then [[searchLatest]] against the LATEST committed
    * snapshot with the first document's embedding as the query.
    *
    * Deterministic end-to-end, so the DuckDB oracle reconstructs the
    * snapshot's vector set directly from the source tables (base vectors
    * for every base id — a re-add keeps the ORIGINAL vector — plus the
    * +0.01-shifted batch-1 vectors under their 10000-shifted ids) and
    * re-ranks: the gate checks that streamed ingest + snapshot search
    * equals batch k-NN over the same corpus, closing the loop the
    * mapping-only `streaming_index_ingest` entry leaves open. The one-row
    * collect for the query vector is the search API's contract (a caller
    * holds the query embedding), not a data-shaped collect.
    */
  def streamingSearch(spark: SparkSession, sfDir: String,
                      k: Int = 10): DataFrame = {
    streamingIndexIngest(spark, sfDir)
    val root = IndexStore.indexDir(sfDir, "stream-index-v4", "documents")
    val query = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0)
    searchLatest(spark, root, query, k)
  }

  /** Streaming near-dup dedup against the PERSISTED corpus signature
    * index — the continuous-ingestion shape of
    * [[graft.operators.Dedup.incrementalDedup]]: new documents land as
    * files, a checkpointed micro-batch query shingles ONLY the batch and
    * folds it against the corpus's stored bands/shingles
    * ([[graft.operators.Dedup.dedupBatchAgainstIndex]] — the same core
    * as the batch entry, so the paths cannot drift), writing each batch's
    * verdicts to a per-batch-id output dir (overwrite ⇒ a crash-replay of
    * a batch rewrites the same dir — idempotent end-to-end).
    *
    * The fixture streams the injected near-dup batch as TWO files with
    * maxFilesPerTrigger=1 (two micro-batches through one checkpoint —
    * the restart path, not one big batch); per-doc verdicts are
    * independent of the batch split, so the union over batch dirs equals
    * the batch operator's result exactly and shares its oracle.
    *
    * Scale shape: per micro-batch cost is O(batch) — batch shingling, a
    * band equi-join against the (read-only) corpus bands, Jaccard
    * verification on candidates. The corpus is never re-shingled; at
    * 100 TB the corpus side is the build-once nightly index and this is
    * the arrival-time path.
    */
  def streamingCorpusDedup(spark: SparkSession, sfDir: String,
                           threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val corpusDir = Dedup.ensureCorpusIndex(spark, sfDir)
    val root = IndexStore.indexDir(sfDir, "stream-dedup-v1", "documents")
    val landing = s"$root/landing"
    val results = s"$root/results"
    if (!IndexStore.committed(s"$results/b0") ||
        !IndexStore.committed(s"$results/b1")) {
      val batch = Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") + 10000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text"))
      stageBatches(landing, batch.filter(col("doc_id") % 2 === 0),
        batch.filter(col("doc_id") % 2 =!= 0))
      val corpusBands = spark.read.parquet(s"$corpusDir/bands")
      val corpusSh = spark.read.parquet(s"$corpusDir/shingles")
      runChain(spark, landing, s"$root/ckpt", batch.schema) { (b, batchId) =>
        Dedup.dedupBatchAgainstIndex(corpusBands, corpusSh,
            Dedup.shingleTable(Dedup.shingles(b)), threshold)
          .write.mode(SaveMode.Overwrite).parquet(s"$results/b$batchId")
      }
    }
    spark.read.parquet(s"$results/b*").orderBy("new_doc", "dup_of")
  }

  /** An ANN index family as the streamed chains and their gates see it
    * — what the IVF and graph chains differ in, one level above
    * [[graft.operators.AnnSearch.IvfCodec]]: the fixture base(s), the
    * O(batch) append and tombstone delete, the gate search, and a
    * version's indexed and live ids. The checkpointed driver, the replay
    * guard, the add/delete split, the fixtures and the shared invariants
    * are written once over it.
    */
  private[graft] sealed abstract class IndexFamily {
    /** Rows per fixture growth batch over an `n`-row corpus (0 = all). */
    def batchRows(n: Long): Long
    def base(spark: SparkSession, sfDir: String): String
    def shardBases(spark: SparkSession, sfDir: String,
                   shards: Int): Seq[String]
    def append(spark: SparkSession, dir: String, batch: DataFrame,
               out: String): Unit
    def delete(spark: SparkSession, dir: String, ids: DataFrame,
               out: String): Unit
    /** Top-k (query_id, id, …) of `queries` over the version at `dir`,
      * which holds `n` vectors.
      */
    def search(spark: SparkSession, sfDir: String, dir: String,
               queries: DataFrame, nQueries: Int, k: Int,
               n: Long): DataFrame
    /** The version's indexed vec_ids, one row per id. */
    def ids(spark: SparkSession, dir: String): DataFrame
    /** [[ids]] minus the version's tombstoned ids. */
    def live(spark: SparkSession, dir: String): DataFrame
  }

  private[graft] case object IvfFamily extends IndexFamily {
    def batchRows(n: Long): Long = 0L
    def base(spark: SparkSession, sfDir: String): String =
      AnnSearch.ensureIvfIndex(spark, sfDir)
    def shardBases(spark: SparkSession, sfDir: String,
                   shards: Int): Seq[String] =
      ShardedSearch.buildShardedIvf(spark, sfDir, shards)
    def append(spark: SparkSession, dir: String, batch: DataFrame,
               out: String): Unit =
      AnnSearch.appendToIvfIndexAt(spark, dir, batch, out)
    def delete(spark: SparkSession, dir: String, ids: DataFrame,
               out: String): Unit =
      AnnSearch.deleteFromIvfIndexAt(spark, dir, ids, out)
    def search(spark: SparkSession, sfDir: String, dir: String,
               queries: DataFrame, nQueries: Int, k: Int,
               n: Long): DataFrame =
      AnnSearch.searchIndexAt(spark, dir, queries, k,
        AnnSearch.defaultProbe(spark, sfDir), expectedQ = nQueries.toLong)
    def ids(spark: SparkSession, dir: String): DataFrame =
      AnnSearch.ivfVectors(spark, dir).select(col("vec_id"))
    def live(spark: SparkSession, dir: String): DataFrame =
      AnnSearch.ivfLiveVectors(spark, dir).select(col("vec_id"))
  }

  private[graft] case object GraphFamily extends IndexFamily {
    // a FIFTH of the corpus per trigger: a streamed ingest runs the
    // INCREMENTAL (beam-link) side of the append regime switch;
    // corpus-sized doubling batches take the rebuild side and are gated
    // by `graph_append_violations` ([[GraphAnn.appendRebuilds]])
    def batchRows(n: Long): Long = math.max(1L, n / 5L)
    def base(spark: SparkSession, sfDir: String): String =
      GraphAnn.buildGraphIndex(spark, sfDir)
    def shardBases(spark: SparkSession, sfDir: String,
                   shards: Int): Seq[String] =
      ShardedSearch.buildShardedGraph(spark, sfDir, shards)
    def append(spark: SparkSession, dir: String, batch: DataFrame,
               out: String): Unit =
      GraphAnn.appendToGraphIndexAt(spark, dir, batch, out)
    def delete(spark: SparkSession, dir: String, ids: DataFrame,
               out: String): Unit =
      GraphAnn.deleteFromGraphIndex(spark, dir, ids, out)
    def search(spark: SparkSession, sfDir: String, dir: String,
               queries: DataFrame, nQueries: Int, k: Int,
               n: Long): DataFrame =
      GraphAnn.graphSearchAt(spark, dir, queries, k, GraphAnn.autoEf(n),
        GraphAnn.autoHops(n,
          GraphAnn.autoDegree(AnnSearch.embeddingCount(spark, sfDir))),
        expectedQ = nQueries.toLong)
    def ids(spark: SparkSession, dir: String): DataFrame =
      IndexStore.loadSegments(spark, dir, "vectors")
        .select(col("vec_id")).distinct()
    // straight off the manifest: merge-on-read needs no resolution for
    // an id set
    def live(spark: SparkSession, dir: String): DataFrame = {
      val tombs = IndexStore.manifestSegments(
        IndexStore.readManifest(spark, dir), "tombstones")
      if (tombs.isEmpty) ids(spark, dir)
      else ids(spark, dir).join(
        IndexStore.readUnion(spark, tombs).select("vec_id").distinct(),
        Seq("vec_id"), "left_anti")
    }
  }

  /** One serving invariant of a streamed index gate: its gauge frames,
    * the violation row their values imply, and the frame checkpoints to
    * release once they are read ([[measure]]).
    */
  private[graft] final case class Serving(
      gauges: Seq[(String, DataFrame)],
      violation: Map[String, Double] => Option[(String, Double, Double)],
      checkpoints: Seq[DataFrame] = Nil)

  /** `avg_recall`: `approx` reaches recall@k ≥ `floor` against `exact`. */
  private def recall(exact: DataFrame, approx: DataFrame,
                     floor: Double): Serving =
    Serving(Seq("hits" -> hitCount(exact, approx),
        "n_exact" -> rowCount(exact)),
      g => {
        val r = g("hits") / g("n_exact")
        Option.when(r < floor)(("avg_recall", floor, r4(r)))
      })

  /** A gate's scalar checks — `gauges`, then the serving invariant's —
    * in ONE action ([[graft.operators.Actions.gauges]]).
    */
  private def measure(gauges: Seq[(String, DataFrame)],
                      serving: Serving): Map[String, Double] = {
    val g = graft.operators.Actions.gauges(gauges ++ serving.gauges: _*)
    serving.checkpoints.foreach(graft.operators.Checkpoints.release)
    g
  }

  /** The landing schema of the vector chains; requests add an `op`. */
  private val VecBatchSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType))))
  private val VecRequestSchema = VecBatchSchema.add("op", StringType)

  /** The streamed APPEND chain: each micro-batch folds into a new
    * O(batch) version per (root, base) chain,
    * v(n) = `fam.append`(v(n-1), batch n), from the chain's base. With
    * K chains (shards) the batch hash-routes by
    * [[graft.operators.ShardedSearch.shardOf]] and each chain folds only
    * its slice — K writers that share nothing. Replay is idempotent:
    * the predecessor resolves below the batch id ([[predecessor]]) and
    * an append onto a committed version writes nothing.
    */
  private[graft] def appendChain(spark: SparkSession, fam: IndexFamily,
                                 landing: String, ckpt: String,
                                 chains: Seq[(String, String)]): Unit =
    runChain(spark, landing, ckpt, VecBatchSchema) { (b, batchId) =>
      chains.zipWithIndex.foreach { case ((root, base), s) =>
        val slice =
          if (chains.size == 1) b
          else b.filter(ShardedSearch.shardOf(col("vec_id"), chains.size) === s)
        fam.append(spark, predecessorDir(root, batchId, base), slice,
          s"$root/v$batchId")
      }
    }

  /** The streamed ADD/DELETE chain: add and delete requests land in ONE
    * stream (an `op` column), and each micro-batch folds into a new
    * O(batch) version — adds through `fam.append`, deletes through
    * `fam.delete` (a tombstone segment + manifest, never a corpus
    * rewrite). A mixed batch chains add-then-delete through an
    * intermediate `v<id>-stage` dir — invisible to [[latestVersion]]'s
    * `v\d+` match, so a half-committed stage never serves — and the
    * delete's commit carries the version name. Replay is
    * [[appendChain]]'s: both writes skip a committed output.
    */
  private[graft] def deleteChain(spark: SparkSession, fam: IndexFamily,
                                 landing: String, ckpt: String,
                                 root: String, base: String): Unit =
    runChain(spark, landing, ckpt, VecRequestSchema) { (b, batchId) =>
      val from = predecessorDir(root, batchId, base)
      val adds = b.filter(col("op") === "add").select(col("vec_id"), col("v"))
      val dels = b.filter(col("op") === "delete").select(col("vec_id"))
      val out = s"$root/v$batchId"
      // O(batch) emptiness probes on the micro-batch, not the corpus
      (!adds.isEmpty, !dels.isEmpty) match {
        case (true, true) =>
          fam.append(spark, from, adds, s"$out-stage")
          fam.delete(spark, s"$out-stage", dels, out)
        case (true, false) => fam.append(spark, from, adds, out)
        case (false, true) => fam.delete(spark, from, dels, out)
        case _ => ()
      }
    }

  /** The fixture corpus grown by `batches`, normalized as the index
    * stores it.
    */
  private def grownCorpus(spark: SparkSession, sfDir: String,
                          batches: Seq[DataFrame]): DataFrame =
    batches.foldLeft(AnnSearch.normalizedCorpus(spark, sfDir))((all, b) =>
      all.unionAll(b.select(col("vec_id"), l2Normalize(col("v")).as("v"))))

  /** An append gate's streamed growth: the final (version, dir) of each
    * chain, the two growth batches, and the corpus and batch sizes.
    */
  private final case class Growth(finals: Seq[(Long, String)],
                                  batches: Seq[DataFrame], nBase: Long,
                                  bSize: Long) {
    def grown: Long = nBase + batches.size * bSize
  }

  /** Grow the append gates' chain(s) once per fixture: two injection
    * batches (id windows 1 and 2, shifted +0.01/+0.02 —
    * [[AnnSearch.injectionBatch]], collision-free on sparse blowup id
    * spaces) of `batchRows` rows each (the family's default when 0) fold
    * through [[appendChain]] into the chain at `<stem>-<ver>` — or, with
    * `shards` > 0, into one chain per shard root `s<i>`, each from its
    * own shard base. `batchRows` > 0 pins the per-trigger batch size
    * (the deep×wide tier's micro-batch shape) and keys a SEPARATE
    * `<stem>-b<rows>-<ver>` root, so a fixture's default-shape chain
    * never short-circuits a differently-shaped run's counts.
    */
  private def grow(spark: SparkSession, sfDir: String, fam: IndexFamily,
                   stem: String, ver: String, batchRows: Long,
                   shards: Int = 0): Growth = {
    val root = IndexStore.indexDir(sfDir,
      if (batchRows > 0L) s"$stem-b$batchRows-$ver" else s"$stem-$ver",
      "embeddings")
    val nBase = AnnSearch.embeddingCount(spark, sfDir)
    val rows =
      if (batchRows > 0L) math.min(batchRows, nBase) else fam.batchRows(nBase)
    val batches = Seq(1 -> 0.01, 2 -> 0.02).map { case (w, d) =>
      AnnSearch.injectionBatch(spark, sfDir, w, d, rows)
    }
    val roots =
      if (shards > 0) (0 until shards).map(s => s"$root/s$s") else Seq(root)
    if (!roots.forall(latestVersion(_).exists(_ >= 1L))) {
      val bases =
        if (shards > 0) fam.shardBases(spark, sfDir, shards)
        else Seq(fam.base(spark, sfDir))
      stageBatches(s"$root/landing", batches: _*)
      appendChain(spark, fam, s"$root/landing", s"$root/ckpt",
        roots.zip(bases))
    }
    val finals = roots.map { r =>
      val v = latestVersion(r).getOrElse(-1L)
      (v, s"$r/v$v")
    }
    Growth(finals, batches, nBase, if (rows > 0L) rows else nBase)
  }

  /** The streamed APPEND gate body, one per family: [[grow]]'s chain
    * v(n) = append(v(n-1), batch n) under one checkpoint, each version
    * O(batch) in BOTH compute and I/O — untouched segments are
    * re-referenced by the version's manifest, only the batch is written
    * (the chained form of `main.py:134`'s `add_with_ids`).
    *
    * Returns the zero-row violations contract (the
    * `ivf_append_violations` / `graph_append_violations` shape): rows
    * appear if the version chain is incomplete (`version_chain`), the
    * final version's vector count is not base + both batches
    * (`vector_count`), or searching the final version misses the recall
    * floor against the exact k-NN over the grown corpus (`avg_recall`).
    */
  private def appendGate(spark: SparkSession, sfDir: String,
                         fam: IndexFamily, stem: String, ver: String,
                         nQueries: Int, k: Int, recallFloor: Double,
                         batchRows: Long): DataFrame = {
    val gr = grow(spark, sfDir, fam, stem, ver, batchRows)
    val Seq((vLast, finalDir)) = gr.finals
    // disk-committed streamed-corpus truth, shared with the sharded
    // chain (same injection slices)
    val serving = recall(AnnSearch.appendUnionExact(spark, sfDir,
        grownCorpus(spark, sfDir, gr.batches), nQueries, k,
        batchTag = s"-sinj${gr.bSize}"),
      fam.search(spark, sfDir, finalDir,
        AnnSearch.fixtureQueries(spark, sfDir, nQueries), nQueries, k,
        gr.grown),
      recallFloor)
    val g = measure(Seq("n_out" -> rowCount(fam.ids(spark, finalDir))),
      serving)
    violationRows(spark,
      Option.when(vLast != 1L)(("version_chain", 1.0, vLast.toDouble)),
      Option.when(g("n_out") != gr.grown)(
        ("vector_count", gr.grown.toDouble, g("n_out"))),
      serving.violation(g))
  }

  /** The streamed SHARDED append gate body — the streaming twin of the
    * sharded write path ([[graft.operators.ShardedSearch.appendToShards]]):
    * each micro-batch hash-routes its rows and every shard folds its
    * slice into its OWN version chain, v_s(n) = append(v_s(n-1),
    * slice_s(n)) — K independent O(batch/K) appends per trigger, each
    * under the single-chain replay discipline. At 100 TB this IS the
    * ingest shape: no shard ever reads or locks another's chain.
    *
    * Returns the zero-row violations contract:
    *
    *  - `version_chain` — every shard's chain reached v1 (two triggers);
    *  - `vector_count` — the K final versions together hold base + both
    *    batches;
    *  - `shard_disjoint` — no vec_id indexed by two shards (routing is a
    *    pure function of the id, so a replay or a trigger split can
    *    never double-place a row);
    *  - the binding's `serving` invariant over the K final version dirs,
    *    the fixture queries and the streamed corpus (its batch size
    *    keys the committed exact truth).
    */
  private def shardedAppendGate(spark: SparkSession, sfDir: String,
                                fam: IndexFamily, stem: String,
                                nQueries: Int, k: Int, batchRows: Long)
                               (serving: (Seq[String], DataFrame, DataFrame,
                                 Long) => Serving): DataFrame = {
    val shards = ShardedSearch.DefaultShards
    val gr = grow(spark, sfDir, fam, s"$stem$shards", "v1", batchRows, shards)
    val chainBad = gr.finals.count(_._1 != 1L)
    val dirs = gr.finals.map(_._2)
    val ids = dirs.map(fam.ids(spark, _)).reduce(_ unionAll _)
    val union = grownCorpus(spark, sfDir, gr.batches).localCheckpoint(true)
    val serves = serving(dirs,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), union, gr.bSize)
    val g = measure(Seq("n_out" -> rowCount(ids),
      "dups" -> rowCount(ids.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1))), serves)
    graft.operators.Checkpoints.release(union)
    violationRows(spark,
      Option.when(chainBad != 0)(("version_chain", 0.0, chainBad.toDouble)),
      Option.when(g("n_out") != gr.grown)(
        ("vector_count", gr.grown.toDouble, g("n_out"))),
      Option.when(g("dups") != 0.0)(("shard_disjoint", 0.0, g("dups"))),
      serves.violation(g))
  }

  /** The DELETE-AT-INGEST gate body — the streaming twin of the batch
    * tombstone gate (`index_delete_violations`) over [[deleteChain]].
    * The fixture streams batch 0 = brand-new vectors (the window-1
    * id-ceiling injection, [[AnnSearch.injectionBatch]] — the family's
    * batch size), batch 1 = a delete of every 2nd of them, plus — when
    * `waves` is 2 — a window-2 second wave of adds in the SAME trigger,
    * so the staged add-then-delete chaining runs in the fixture. The
    * batches are order-sensitive (batch 1 tombstones ids batch 0 adds),
    * so they are staged with fixed mtimes ([[stageBatches]]).
    *
    * Returns the zero-row violations contract: rows appear if the chain
    * is incomplete (`version_chain`), the final live count is not
    * base + adds − deletes (`live_count`), any deleted id surfaces in a
    * search of the final version (`deleted_in_results`), or that search
    * misses the recall floor against the exact k-NN over the live
    * corpus (`avg_recall`).
    */
  private def deleteGate(spark: SparkSession, sfDir: String,
                         fam: IndexFamily, name: String, tag: String,
                         waves: Int, nQueries: Int, k: Int,
                         recallFloor: Double): DataFrame = {
    val root = IndexStore.indexDir(sfDir, name, "embeddings")
    val nBase = AnnSearch.embeddingCount(spark, sfDir)
    val rows = fam.batchRows(nBase)
    val adds = Seq(0.03, 0.04).take(waves).zipWithIndex.map { case (d, i) =>
      AnnSearch.injectionBatch(spark, sfDir, i + 1, d, rows)
    }
    val delIds = adds.head.select(col("vec_id"))
      .filter(col("vec_id") % 2 === 0)
    if (!latestVersion(root).exists(_ >= 1L)) {
      val base = fam.base(spark, sfDir)
      val dels = delIds.withColumn("v", lit(null).cast(ArrayType(DoubleType)))
        .withColumn("op", lit("delete"))
      val wave2 = adds.drop(1).map(_.withColumn("op", lit("add")))
      stageBatches(s"$root/landing", adds.head.withColumn("op", lit("add")),
        (wave2 :+ dels).reduce(_ unionByName _))
      deleteChain(spark, fam, s"$root/landing", s"$root/ckpt", root, base)
    }
    val vLast = latestVersion(root).getOrElse(-1L)
    val finalDir = s"$root/v$vLast"
    val nGrown = nBase + waves * (if (rows > 0L) rows else nBase)
    val res = fam.search(spark, sfDir, finalDir,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), nQueries, k, nGrown)
    // disk-committed live-corpus truth
    val serving = recall(AnnSearch.appendUnionExact(spark, sfDir,
        grownCorpus(spark, sfDir, adds).join(delIds, Seq("vec_id"),
          "left_anti"), nQueries, k, batchTag = tag),
      res, recallFloor)
    val g = measure(Seq("n_del" -> rowCount(delIds),
      "n_live" -> rowCount(fam.live(spark, finalDir)),
      "deleted_in_results" -> rowCount(res.join(
        delIds.select(col("vec_id").as("id")), Seq("id"), "left_semi"))),
      serving)
    val nLiveExpected = nGrown - g("n_del")
    violationRows(spark,
      Option.when(vLast != 1L)(("version_chain", 1.0, vLast.toDouble)),
      Option.when(g("n_live") != nLiveExpected)(
        ("live_count", nLiveExpected, g("n_live"))),
      Option.when(g("deleted_in_results") != 0.0)(
        ("deleted_in_results", 0.0, g("deleted_in_results"))),
      serving.violation(g))
  }

  /** Streaming O(batch) IVF index growth: micro-batches of NEW vectors
    * chain into versioned IVF snapshots,
    * v(n) = [[graft.operators.AnnSearch.appendToIvfIndexAt]](v(n-1),
    * batch n) — the [[appendGate]] contract at the IVF recall floor.
    * Batches default to the whole corpus; `batchRows` > 0 pins them.
    */
  def streamingIvfAppend(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         recallFloor: Double = 0.5,
                         batchRows: Long = 0L): DataFrame =
    appendGate(spark, sfDir, IvfFamily, "stream-ivf", "v3", nQueries, k,
      recallFloor, batchRows)

  /** Streaming O(batch) GRAPH index growth — [[streamingIvfAppend]] on
    * the k-NN-graph chain,
    * v(n) = [[graft.operators.GraphAnn.appendToGraphIndexAt]](v(n-1),
    * batch n): the batch beam-searches the PREDECESSOR graph for its
    * forward edges and reverse edges repair only touched nodes.
    * Batches default to a fifth of the corpus.
    */
  def streamingGraphAppend(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           recallFloor: Double = 0.9,
                           batchRows: Long = 0L): DataFrame =
    appendGate(spark, sfDir, GraphFamily, "stream-graph", "v6", nQueries, k,
      recallFloor, batchRows)

  /** Streamed SHARDED IVF ingest ([[shardedAppendGate]]) over K
    * per-shard IVF chains. `scatter_gather_identity`: saturated
    * scatter-gather over the K final versions is BIT-IDENTICAL to the
    * exact k-NN over the streamed corpus — the shard-merge theorem
    * surviving a streamed write history. The leg compares FULL rows
    * (distance, rank), so its exact frame is a live checkpoint, not the
    * pair-only committed truth.
    */
  def streamingShardedAppend(spark: SparkSession, sfDir: String,
                             nQueries: Int = 10,
                             k: Int = 10,
                             batchRows: Long = 0L): DataFrame =
    shardedAppendGate(spark, sfDir, IvfFamily, "stream-shard", nQueries, k,
        batchRows) { (dirs, queries, union, _) =>
      import graft.functions.VectorOps.squaredL2
      val exact = graft.operators.VectorSearch.topK(
        union.join(broadcast(queries), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("id"),
            squaredL2(col("qu"), col("v")).as("dist")), k)
        .localCheckpoint(true)
      val got = ShardedSearch.scatterGatherAt(spark, dirs, queries, union, k,
        nProbe = -1, expectedQ = nQueries.toLong).localCheckpoint(true)
      def ones(df: DataFrame) = df.select(lit(1L).as("one"))
      Serving(Seq("diff" -> rowCount(ones(exact.exceptAll(got))
          .unionAll(ones(got.exceptAll(exact))))),
        g => Option.when(g("diff") != 0.0)(
          ("scatter_gather_identity", 0.0, g("diff"))),
        Seq(exact, got))
    }

  /** Streamed SHARDED GRAPH ingest ([[shardedAppendGate]]) over K
    * per-shard beam-link chains — a fifth-of-corpus batch against a
    * quarter-corpus shard keeps every shard append in the incremental
    * regime. `avg_recall`: a beam has no saturation trick, so the
    * contract is the shard-merge theorem's approximate half — the merged
    * beam scatter-gather holds the floor against the exact k-NN over the
    * streamed corpus.
    */
  def streamingGraphShardedAppend(spark: SparkSession, sfDir: String,
                                  nQueries: Int = 10, k: Int = 10,
                                  recallFloor: Double = 0.9,
                                  batchRows: Long = 0L): DataFrame =
    shardedAppendGate(spark, sfDir, GraphFamily, "stream-gshard", nQueries,
        k, batchRows) { (dirs, queries, union, bSize) =>
      recall(AnnSearch.appendUnionExact(spark, sfDir, union, nQueries, k,
          batchTag = s"-sinj$bSize"),
        ShardedSearch.scatterGatherGraphAt(spark, dirs, queries, union, k),
        recallFloor)
    }

  /** DELETE-AT-INGEST on the IVF chain ([[deleteGate]]): a pure-add
    * batch, then a pure-delete batch.
    */
  def streamingIvfDelete(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         recallFloor: Double = 0.5): DataFrame =
    deleteGate(spark, sfDir, IvfFamily, "stream-ivf-del-v2", "-sivfdel",
      waves = 1, nQueries, k, recallFloor)

  /** DELETE-AT-INGEST on the GRAPH chain ([[deleteGate]]) — closing the
    * lifecycle asymmetry between the index families: an add batch, then
    * a MIXED add+delete batch. The delete is the masked one
    * ([[graft.operators.GraphAnn.deleteFromGraphIndex]]): tombstoned
    * nodes stay TRAVERSABLE for navigation and are excluded only from
    * ranking, so no graph data is touched.
    */
  def streamingGraphDelete(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           recallFloor: Double = 0.9): DataFrame =
    deleteGate(spark, sfDir, GraphFamily, "stream-graph-del-v2", "-sgdel",
      waves = 2, nQueries, k, recallFloor)

  /** DELETE through the FLAT mapping store — the reference's own store
    * shape (`main.py:119-126` LWW upsert keeps the old vector forever;
    * this is the missing takedown half, by str_id exactly as the
    * reference's ids are addressed): batch 0 adds every document,
    * batch 1 is a MIXED batch — a delete request for every 3rd id plus
    * brand-new 10000-shifted adds — folded through the same
    * checkpointed stream ([[mergeBatchOps]]). A delete writes ONE LWW
    * tombstone delta row; the dense-id continuation counts every id
    * ever assigned (a deleted id is never reused); search excludes
    * tombstoned vectors from the RANKING ([[searchLatest]]); compaction
    * drops their vectors physically while keeping the (tiny) tombstone
    * rows for id monotonicity.
    *
    * Returns the final LIVE mapping (str_id, faiss_id, text) ordered by
    * str_id — fully deterministic, so the DuckDB oracle reconstructs
    * the whole add → mixed delete/add lifecycle end-to-end (a stronger
    * check than a zero-row gate: every surviving row, id and text is
    * hash-compared).
    */
  def streamingFlatDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val root = IndexStore.indexDir(sfDir, "stream-flat-del-v1", "documents")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    if (!latestVersion(root).exists(_ >= 1L)) {
      val docs = Tables.load(spark, sfDir, "documents")
      val emb = Tables.load(spark, sfDir, "embeddings")
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val b0 = joined.select(strId(col("doc_id")).as("str_id"),
        col("text"), col("v"), lit("add").as("op"))
      stageInto(b0, landing, "batch0")
      ingestAvailable(spark, landing, root, ckpt)
      val dels = joined.filter(col("doc_id") % 3 === 0)
        .select(strId(col("doc_id")).as("str_id"),
          lit(null).cast(StringType).as("text"),
          lit(null).cast(ArrayType(DoubleType)).as("v"),
          lit("delete").as("op"))
      val nw = joined.select(strId(col("doc_id") + 10000).as("str_id"),
        col("text"), transform(col("v"), x => x + 0.01).as("v"),
        lit("add").as("op"))
      stageInto(dels.unionByName(nw), landing, "batch1")
      ingestAvailable(spark, landing, root, ckpt)
    }
    val v = latestVersion(root).get
    loadMappingAt(spark, s"$root/v$v").orderBy("str_id")
  }

  /** CDC-AT-INGEST — the streaming twin of
    * [[graft.operators.Ingest.cdcApply]]: the I/U/D changelog arrives in
    * seq-ordered micro-batches (the delivery order a log broker
    * guarantees per key) and each batch folds onto the previous LIVE
    * snapshot version through the ONE shared LWW seam
    * ([[graft.operators.Ingest.cdcLww]]) —
    * `live(n) = cdcLww(live(n-1) ∪ batch n)` — written as a new version
    * keyed by the checkpointed batch id, so a crash-and-replay rewrites
    * the same version from the same predecessor (the
    * [[ingestAvailable]] replay discipline). Live rows KEEP their
    * winning (op, seq), which makes the fold a max-seq semilattice:
    * within this fixture's split even out-of-order batch application
    * reaches the same fixed point (a delete always outranks its own
    * batch's losers; an already-applied higher seq outranks a late
    * lower one). A truly unordered log would additionally need delete
    * TOMBSTONE retention (a removed key's seq must survive to outrank
    * late lower-seq rows) — the `~tomb-` pattern
    * [[streamingFlatDelete]] demonstrates.
    *
    * Per-trigger cost is ONE key shuffle of (live ∪ batch); the
    * changelog side is O(delta), and each trigger MATERIALIZES the next
    * full live snapshot (the textbook CDC-consumer contract — the
    * snapshot is what downstream reads). At 100 TB a production apply
    * makes the snapshot write copy-on-write — only the files holding
    * touched keys rewrite, untouched files re-referenced by manifest
    * (the [[IndexStore]] segment pattern; [[streamingFlatDelete]]
    * demonstrates the delta-row variant) — while the LWW arithmetic
    * stays exactly this seam. The fixture splits [[graft.operators
    * .Ingest.cdcFixtureLog]] at seq 2/3, so the final live set is
    * ROW-IDENTICAL to `cdc_apply` and shares its oracle verbatim.
    */
  def streamingCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    // v2: the fixture log's insert-key shift became max-key-derived
    val root = IndexStore.indexDir(sfDir, "stream-cdc-v2", "customer")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1")) {
      val cust = Tables.load(spark, sfDir, "customer")
      IndexStore.saveDataset(Ingest.cdcSnapshot(cust), s"$versions/base")
      val log = Ingest.cdcFixtureLog(cust)
      // the fold converges under either delivery order for THIS fixture
      // (max-seq semilattice, see above), but seq-ordered delivery is the
      // documented contract — staged deterministic rather than leaning
      // on filesystem mtime resolution
      stageBatches(landing, log.filter(col("seq") <= 2L),
        log.filter(col("seq") >= 3L))
      runChain(spark, landing, s"$root/ckpt", log.schema) { (b, batchId) =>
        val prevDir = if (batchId == 0L) s"$versions/base"
                      else s"$versions/b${batchId - 1}"
        Ingest.cdcLww(spark.read.parquet(prevDir).unionByName(b))
          .write.mode(SaveMode.Overwrite).parquet(s"$versions/b$batchId")
      }
    }
    Ingest.cdcShape(spark.read.parquet(s"$versions/b1"))
  }

  /** PACKING-AT-INGEST — the streaming twin of
    * [[graft.operators.TextAnalysis.sequencePack]]: documents arrive in
    * doc_id-ordered micro-batches and each batch resolves its global
    * token offsets through the shared placement seam
    * ([[graft.operators.TextAnalysis.packPlace]]) seeded with the
    * offset the PREVIOUS batch ended at — the carried state is ONE long
    * (written as a tiny per-version state file), the smallest state a
    * stateful streaming fold can have: no state store, no watermark,
    * per-trigger cost O(batch). Versions are keyed by the checkpointed
    * batch id with the standard replay discipline (a replayed batch
    * re-reads its predecessor's offset and rewrites its own rows —
    * idempotent). The final manifest aggregates ALL versions' placed
    * rows through the shared aggregation half, so it is ROW-IDENTICAL
    * to the batch entry and shares its oracle verbatim.
    *
    * ORDER MATTERS here, unlike most other staged folds (the
    * dedup verdicts are split-independent, the CDC fold is a max-seq
    * semilattice): offsets are a prefix sum in doc_id order, so the
    * file source must deliver batch0 before batch1. The staging sets
    * explicit mtimes (the file source orders by modification time,
    * with no path tie-break), and the fold additionally carries the
    * placed doc_id high-water mark in its state file and REFUSES an
    * out-of-order batch (min doc_id ≤ predecessor's max). By the time
    * the refusal fires, the misordered PREDECESSOR batch's version and
    * checkpoint entry are already durable — so the failure path wipes
    * the run's staged state entirely (landing + checkpoint + versions)
    * before rethrowing: the query fails loudly, and a RETRY re-stages
    * from the fixture and recovers, instead of replaying the same
    * misorder from the checkpoint forever or committing a wrong-offset
    * manifest.
    */
  def streamingSequencePack(spark: SparkSession, sfDir: String,
      budget: Long = graft.operators.TextAnalysis.DefaultPackBudget)
      : DataFrame = {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val root = IndexStore.indexDir(sfDir, "stream-pack-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageBatches(landing, docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut))
      try runChain(spark, landing, s"$root/ckpt", docs.schema) {
        (b, batchId) =>
          val (base, prevMaxDoc) =
            if (batchId == 0L) (0L, Long.MinValue)
            else {
              val r = spark.read
                .parquet(s"$versions/b${batchId - 1}/state").head
              (r.getLong(0), r.getLong(1))
            }
          val stats = b.agg(min(col("doc_id")), max(col("doc_id"))).head
          val batchMaxDoc = if (stats.isNullAt(1)) prevMaxDoc
            else stats.getLong(1)
          if (!stats.isNullAt(0) && stats.getLong(0) <= prevMaxDoc)
            throw new MisorderedBatchException(
              s"packing batch $batchId out of order: min doc_id " +
                s"${stats.getLong(0)} <= placed high-water $prevMaxDoc — " +
                "refusing to commit a wrong-offset manifest")
          val (placed, next) = TextAnalysis.packPlace(spark, b, base)
          placed.write.mode(SaveMode.Overwrite)
            .parquet(s"$versions/b$batchId/rows")
          Seq((next, batchMaxDoc)).toDF("next_offset", "max_doc")
            .coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$versions/b$batchId/state")
      } catch {
        case e: Throwable => wipeIfMisordered(root, e)
      }
    }
    TextAnalysis.packAggregate(
      spark.read.parquet(s"$versions/b*/rows"), budget)
  }

  /** CHUNK-INDEXING-AT-INGEST — the streaming twin of
    * [[graft.operators.VectorSearch.chunkEmbedSearch]]'s index side:
    * each document micro-batch is chunked and embedded through the SAME
    * chunk-geometry + textEmbed seams as the batch entry, and the
    * chunk-embedding rows append as one O(batch) version per trigger —
    * the "index the corpus for RAG as it lands" flow. Chunks never span
    * documents, so any doc-partitioned batching yields exactly the
    * batch operator's chunk set; the final search over the accumulated
    * versions is row-identical to `chunk_embed_search` (shared oracle).
    * Per-trigger state on disk only (no state store, no carried fold —
    * embedding is per-doc deterministic); replay overwrites its own
    * version dir idempotently.
    */
  def streamingChunkEmbed(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          dim: Int = 16): DataFrame = {
    import graft.operators.{TextAnalysis, VectorSearch}
    val root = IndexStore.indexDir(sfDir, "stream-chunkemb-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/rows")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageBatches(landing, docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut))
      runChain(spark, landing, s"$root/ckpt", docs.schema) { (b, batchId) =>
        VectorSearch.textEmbed(
            TextAnalysis.chunkTokens(b, TextAnalysis.DefaultChunkSize,
                TextAnalysis.DefaultChunkStride)
              .select((col("doc_id") * VectorSearch.ChunkKeyBase +
                  col("chunk_ix"))
                .as("doc_id"), col("chunk_text").as("text")), dim)
          .write.mode(SaveMode.Overwrite).parquet(s"$versions/b$batchId/rows")
      }
    }
    val cEmb = spark.read.parquet(s"$versions/b*/rows")
    val qEmb = VectorSearch.textEmbed(
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < nQueries), dim)
      .select(col("doc_id").as("query_id"), col("v").as("qv"))
    VectorSearch.chunkTopK(cEmb, qEmb, k)
  }

  /** SAMPLING-AT-INGEST — the streaming twin of
    * [[graft.operators.TextAnalysis.weightedSample]]: the A-ES
    * without-replacement draw is a global top-k by the integer
    * max-of-w-hashes key, and top-k is an ASSOCIATIVE, COMMUTATIVE
    * fold — so each document micro-batch's keyed rows merge with the
    * persisted k-row reservoir through the ONE shared key/ranking seam
    * (`weightedKeys`/`weightedTopK`) and the final reservoir is
    * row-identical to the batch draw under ANY batch split or order
    * (shared oracle). Carried state is exactly k rows; per-trigger work
    * is O(batch + k): the streaming face of weighted reservoir
    * sampling.
    */
  def streamingWeightedSample(spark: SparkSession, sfDir: String,
      k: Int = graft.operators.TextAnalysis.DefaultSampleK)
      : DataFrame = {
    import graft.operators.TextAnalysis.{weightedKeys, weightedTopK}
    val root = IndexStore.indexDir(sfDir, "stream-wsample-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageBatches(landing, docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut))
      runChain(spark, landing, s"$root/ckpt", docs.schema) { (b, batchId) =>
        val batchKeys = weightedKeys(b)
        val pool =
          if (batchId == 0L) batchKeys
          else batchKeys.unionByName(
            spark.read.parquet(s"$versions/b${batchId - 1}/state"))
        weightedTopK(pool, k)
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    spark.read.parquet(s"$versions/b1/state").orderBy("doc_id")
  }

  /** ANOMALIES-AT-INGEST — the streaming twin of
    * [[graft.operators.Events.eventAnomalies]]: each time-ordered event
    * micro-batch is scored through the ONE shared window-gate seam
    * ([[graft.operators.Events.anomaliesOver]]) against the union of
    * the batch and the persisted per-user TAIL state (the last ≤ w
    * events per user — all a trailing ROWS [-w,-1] frame can ever see),
    * then the state advances to the new last-w tail. Carried state is
    * O(users · w) rows, per-trigger work O(batch + users·w), no state
    * store, no watermark; flags are ROW-IDENTICAL to the batch gate
    * (shared oracle) because a row's flag depends only on its ≤ w
    * predecessors, which the tail preserves exactly.
    *
    * Order discipline (the packing twin's): batches must arrive in
    * event-time order — a batch overlapping the committed high-water
    * would score against a wrong tail, so the fold REFUSES it and wipes
    * the run's derived state before rethrowing (a bare retry would
    * replay the same misorder from the checkpoint forever).
    */
  def streamingEventAnomalies(spark: SparkSession, sfDir: String,
      w: Int = graft.operators.Events.DefaultAnomalyWindow): DataFrame = {
    import spark.implicits._
    val root = IndexStore.indexDir(sfDir, "stream-anom-v1", "events")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
      val cut = e.agg(expr("percentile_approx(us, 0.5)").cast("long"))
        .head.getLong(0)
      stageBatches(landing, e.filter(col("us") <= cut),
        e.filter(col("us") > cut))
      try runChain(spark, landing, s"$root/ckpt", e.schema) {
        (b, batchId) =>
          val (prevTail, prevHigh) =
            if (batchId == 0L)
              (spark.createDataFrame(
                 spark.sparkContext.emptyRDD[Row], b.schema),
               Long.MinValue)
            else {
              val st = spark.read.parquet(s"$versions/b${batchId - 1}/state")
              (st.drop("high_us"),
               st.agg(max(col("high_us"))).head.getLong(0))
            }
          val stats = b.agg(min(col("us")), max(col("us"))).head
          if (!stats.isNullAt(0) && stats.getLong(0) <= prevHigh)
            throw new MisorderedBatchException(
              s"anomaly batch $batchId out of order: min us " +
                s"${stats.getLong(0)} <= scored high-water $prevHigh — " +
                "refusing to score against a wrong tail")
          val high = if (stats.isNullAt(1)) prevHigh else stats.getLong(1)
          val ctx = prevTail.unionByName(b)
          val batchIds = b.select(col("event_id").as("bid"))
          graft.operators.Events.anomaliesOver(ctx, w)
            .join(batchIds, col("event_id") === col("bid"), "left_semi")
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$versions/b$batchId/flags")
          val tw = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("event_id").desc)
          ctx.withColumn("rn", row_number().over(tw))
            .filter(col("rn") <= w).drop("rn")
            .withColumn("high_us", lit(high))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$versions/b$batchId/state")
      } catch {
        case e: Throwable => wipeIfMisordered(root, e)
      }
    }
    spark.read.parquet(s"$versions/b*/flags").orderBy("event_id")
  }

  /** HEAVY-HITTERS-AT-INGEST — the streaming twin of
    * [[graft.operators.Sketches.heavyHitters]]: each document
    * micro-batch folds its capacity-m Misra–Gries summary into the
    * persisted sketch state through the SAME mergeable-summaries merge
    * the batch aggregator uses (one shared seam,
    * `MisraGriesAgg.merge`), so the carried state is ≤ m counters plus
    * the stream length — kilobytes per trigger, no state store, no
    * watermark, O(batch + m) per trigger. The MG guarantee survives ANY
    * merge order (the fold is commutative/associative), so after the
    * last trigger the exact recount of the surviving candidates
    * filtered at freq·m > n is STILL precisely the share > 1/m set —
    * the streamed result is row-identical to `heavy_hitters` and shares
    * its oracle verbatim.
    *
    * Replay discipline: per-batch state versions are overwrite-
    * idempotent; a mid-run failure resumes from the checkpoint and
    * rebuilds b(i)/state from b(i-1)/state + the replayed batch. No
    * order refusal is needed — unlike the packing fold, the merged
    * sketch's DOWNSTREAM result is delivery-order-independent.
    */
  def streamingHeavyHitters(spark: SparkSession, sfDir: String,
      m: Int = graft.operators.Sketches.DefaultCapacity)
      : DataFrame = {
    import spark.implicits._
    import graft.functions.SketchAggregators.{MgBuf, MisraGriesAgg}
    val root = IndexStore.indexDir(sfDir, "stream-hh-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageBatches(landing, docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut))
      runChain(spark, landing, s"$root/ckpt", docs.schema) { (b, batchId) =>
        val agg = new MisraGriesAgg(m)
        val prev: MgBuf =
          if (batchId == 0L) agg.zero
          else {
            val rows = spark.read
              .parquet(s"$versions/b${batchId - 1}/state").collect()
            (rows.filter(!_.isNullAt(0))
               .map(r => r.getString(0) -> r.getLong(1)).toMap,
             rows.head.getLong(2))
          }
        val batchSketch: MgBuf = b
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .select(lower(col("tok")).as("tok"))
          .as[String]
          .select(agg.toColumn).head()
        val (cnt, n) = agg.merge(prev, batchSketch)
        val out =
          if (cnt.isEmpty) Seq((null: String, 0L, n))
          else cnt.toSeq.map { case (t, c) => (t, c, n) }
        out.toDF("tok", "cnt", "n")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    val st = spark.read.parquet(s"$versions/b1/state")
    val cands = st.filter(col("tok").isNotNull).select(col("tok"))
    val n = st.agg(max(col("n"))).head.getLong(0)
    spark.read.parquet(landing)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(lower(col("tok")).as("tok"))
      .join(broadcast(cands), "tok")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") * m > lit(n))
      .select(col("tok"), col("freq"),
        round(col("freq").cast("double") / n, 6).as("share"))
      .orderBy(col("freq").desc, col("tok"))
  }

  /** DRIFT-AT-INGEST — the streaming twin of
    * [[graft.operators.VectorSearch.embeddingDrift]]: the reference
    * bin grid is committed ONCE per data fingerprint (dim·nBins rows —
    * the deployment artifact a monitoring job ships alongside the
    * index), and each micro-batch of arriving vectors computes its
    * per-dimension PSI against that grid through the ONE shared
    * comparison seam ([[graft.operators.VectorSearch.psiVsReference]])
    * — per-batch work is O(batch·dim) explode + a broadcast of the tiny
    * grid, no state store, no watermark, nothing corpus-sized. The
    * fixture stages the batch gauge's exact "current" slice as one
    * landing file, so the streamed result is ROW-IDENTICAL to
    * `embedding_drift` and shares its oracle verbatim (the same
    * discipline as `streaming_media_decode`).
    */
  def streamingDrift(spark: SparkSession, sfDir: String, nBins: Int = 10,
                     eps: Double = 0.5): DataFrame = {
    import graft.operators.VectorSearch
    // parameters ride IN the fixture key (repo convention, e.g.
    // "ivfdoc$nc-$dim-v1"): a non-default (nBins, eps) call must never
    // be served a committed default-parameter result
    val root = IndexStore.indexDir(sfDir,
      s"stream-drift-$nBins-$eps-v1", "embeddings")
    val refPath = s"$root/ref"
    val outPath = s"$root/out"
    if (!IndexStore.committed(outPath)) {
      val raw = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      if (!IndexStore.committed(refPath))
        IndexStore.saveDataset(VectorSearch.driftReference(
          VectorSearch.driftCells(raw).filter(col("side") === 0), nBins)
          .coalesce(1), refPath)
      val landing = s"$root/landing"
      stageBatches(landing, raw.filter(col("vec_id") % 2 === 1))
      // a crashed prior attempt may have checkpointed the batch as
      // consumed WITHOUT committing the result (the crash window between
      // foreachBatch and the _SUCCESS marker) — AvailableNow would then
      // complete without re-invoking the batch and strand the fixture.
      // The result is a deterministic Overwrite of the same rows, so
      // clearing the checkpoint and replaying is always safe here.
      val ckptPath = new Path(s"$root/ckpt")
      val fs = ckptPath.getFileSystem(IndexStore.hadoopConf)
      if (fs.exists(ckptPath)) fs.delete(ckptPath, true)
      runChain(spark, landing, ckptPath.toString, raw.schema) { (b, _) =>
        IndexStore.saveDataset(
          VectorSearch.psiVsReference(spark.read.parquet(refPath),
            VectorSearch.driftCells(b), nBins, eps)
            .coalesce(1), outPath)
      }
    }
    spark.read.parquet(outPath).orderBy("dim")
  }

  /** RETENTION as a gated query — the last lifecycle event
    * (build → append → delete → compact → refit → RETENTION) surfaced in
    * the graded contract, one body per family. [[pruneVersions]] is the
    * production surface (a long-running ingest otherwise accumulates
    * every snapshot ever written); this gate proves the refcounting
    * end-to-end on a real chain: three O(batch) appends over the
    * fixture base (versions v0 → v1 → v2, each manifest re-referencing
    * its predecessor's segments IN PLACE — so v0's segment files are
    * live data of v1 and v2), then one `keep = 2` vacuum. The prune must
    * (a) remove exactly v0 and nothing else, (b) leave v0 unresolvable
    * as a VERSION while every segment a surviving manifest references
    * stays on disk — refcounting, not directory deletion, (c) leave the
    * latest version's search identical (top-k ties break on (dist, id),
    * so equality is exact, not floor-gated), and (d) be idempotent — a
    * second vacuum finds nothing. Outcomes are persisted once per data
    * fingerprint (the prune is a destructive one-shot; a re-run in a
    * fresh JVM must grade the SAME event, not a differently-shaped
    * steady state), and the serving check is recomputed live on every
    * invocation. (nQueries, k) ride in `name`: the persisted outcomes
    * were graded at THOSE parameters.
    */
  private def retentionGate(spark: SparkSession, sfDir: String,
                            fam: IndexFamily, name: String, nQueries: Int,
                            k: Int): DataFrame = {
    import spark.implicits._
    val root = IndexStore.indexDir(sfDir, name, "embeddings")
    val outcome = s"$root/outcome"
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    // base + three corpus-sized batches
    val n = 4 * AnnSearch.embeddingCount(spark, sfDir)
    def searchAt(v: Long) = fam.search(spark, sfDir, s"$root/v$v", queries,
      nQueries, k, n).select(col("query_id"), col("id"))
    if (!IndexStore.committed(outcome)) {
      // id-ceiling-windowed injections ([[AnnSearch.injectionBatch]])
      Seq(0.04, 0.05, 0.06).zipWithIndex.foldLeft(fam.base(spark, sfDir)) {
        case (prev, (d, v)) =>
          fam.append(spark, prev,
            AnnSearch.injectionBatch(spark, sfDir, v + 1, d), s"$root/v$v")
          s"$root/v$v"
      }
      val pre = searchAt(2L).localCheckpoint(true)
      val fs = new Path(root).getFileSystem(IndexStore.hadoopConf)
      // what the SURVIVORS reference — captured before the prune so the
      // liveness check is against the prune's own input, incl. v0's
      // segments (re-referenced by v1/v2: must survive their version's
      // death) and the base index's segments outside `root`
      val live = Seq(1L, 2L)
        .flatMap(v => IndexStore.readManifest(spark, s"$root/v$v"))
        .map(e => fs.makeQualified(new Path(e._2))).distinct
      val doomed = pruneVersions(spark, root, keep = 2)
      val post = searchAt(2L)
      val drift = post.exceptAll(pre).count() + pre.exceptAll(post).count()
      IndexStore.saveDataset(Seq(
        ("pruned_exactly_v0", 1.0,
          if (doomed == Seq(0L)) 1.0 else 0.0),
        ("doomed_still_resolvable", 0.0,
          (if (IndexStore.committed(s"$root/v0/manifest")) 1L else 0L)
            .toDouble),
        ("live_segment_missing", 0.0,
          live.count(p => !fs.exists(p)).toDouble),
        ("post_prune_drift", 0.0, drift.toDouble),
        ("prune_idempotent", 0.0,
          pruneVersions(spark, root, keep = 2).size.toDouble))
        .toDF("invariant", "expected", "actual").coalesce(1), outcome)
    }
    // persisted one-shot outcomes + the recomputed serving check: the
    // surviving chain must still answer the fixture queries in full
    val persisted = spark.read.parquet(outcome)
      .filter(col("expected") =!= col("actual"))
    val vLast = latestVersion(root).getOrElse(-1L)
    val nRes = if (vLast < 0L) -1L else searchAt(vLast).count()
    persisted.unionByName(violationRows(spark,
      Option.when(vLast != 2L)(("latest_version", 2.0, vLast.toDouble)),
      Option.when(nRes != nQueries.toLong * k)(
        ("serving_rows", nQueries.toDouble * k, nRes.toDouble))))
      .orderBy("invariant")
  }

  /** [[retentionGate]] on the IVF chain. */
  def ivfRetentionViolations(spark: SparkSession, sfDir: String,
                             nQueries: Int = 10, k: Int = 10): DataFrame =
    retentionGate(spark, sfDir, IvfFamily, s"ivf-ret-$nQueries-$k-v2",
      nQueries, k)

  /** [[retentionGate]] on the k-NN-graph chain — the [[pruneVersions]]
    * vacuum is layout-agnostic, and this proves it on the graph's
    * nested `seg/app/…` segments.
    */
  def graphRetentionViolations(spark: SparkSession, sfDir: String,
                               nQueries: Int = 10,
                               k: Int = 10): DataFrame =
    retentionGate(spark, sfDir, GraphFamily, s"graph-ret-$nQueries-$k-v4",
      nQueries, k)
}
