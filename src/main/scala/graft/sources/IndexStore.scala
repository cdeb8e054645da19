package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Persistence for the search index state — the Spark restatement of the
  * reference's durability story (index written only in a shutdown hook,
  * `main.py:168-173`, loaded-or-inited at startup, `main.py:55-63`; a crash
  * between SQLite commit and FAISS insert loses vectors, `main.py:132-134`).
  *
  * Here both halves of the state (id mapping + vector table) are written by
  * the same job, each dataset commits atomically via the Parquet committer
  * (`_SUCCESS` marker), and readers see either the old or the new snapshot
  * of a dataset — no shutdown-hook durability. All existence/metadata
  * checks go through the Hadoop [[FileSystem]] API, so the same pattern
  * works unchanged when the store root is an `hdfs://`/`s3a://` URI in a
  * cluster deployment (a `java.io.File` check would silently report "not
  * committed" there and rebuild on every query).
  */
object IndexStore {

  /** Session Hadoop conf (spark.hadoop.* properties — credentials,
    * endpoints, defaultFS), cached PER SESSION: committed() sits on every
    * persisted-index query path and newHadoopConf() copies the full
    * property set per call, but caching the first resolution for the JVM
    * lifetime would silently serve a stale conf to a later session with
    * different spark.hadoop.* settings (multi-session tests, relaunched
    * sessions). The cache keys on session identity and re-resolves when
    * the active session changes; with NO active session the bare
    * Configuration is returned uncached so it can never mask a later
    * session's properties. Shared package-wide so every FileSystem lookup
    * (e.g. [[graft.streaming.StreamingIndex]]) resolves against the SAME
    * configuration as the committed() checks.
    */
  @transient @volatile
  private var cachedConf: (SparkSession, Configuration) = _
  private[graft] def hadoopConf: Configuration =
    // getActiveSession is THREAD-local (None on e.g. a streaming
    // micro-batch worker thread) — fall back to the JVM-wide default
    // session before surrendering to a bare spark.hadoop.*-less conf
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        val c = cachedConf
        if (c != null && (c._1 eq s)) c._2
        else {
          val conf = s.sessionState.newHadoopConf()
          cachedConf = (s, conf)
          conf
        }
      case None => new Configuration()
    }

  /** One committed parquet dataset of any derived index artifact (band
    * keys, signatures, centroids…). Readers gate on [[committed]], so a
    * crashed write is indistinguishable from "never built".
    */
  def saveDataset(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  // ---- The cache seam ----------------------------------------------
  //
  // Every per-JVM cache of the engine is one entry kind of ONE map here.
  // An entry is keyed by what its value is derived from and carries a
  // validity token that the seam reads from the filesystem on every
  // lookup, so a value goes stale exactly when its inputs change: a write
  // through any session, an in-place fixture rewrite or a regenerated
  // index dir all show up in the token, and no writer invalidates
  // anything. A hit runs no Spark job and one filesystem status call
  // (one per source table for a multi-table source).

  /** What a cached value is derived from; the seam reads its token. */
  private[graft] sealed trait Origin

  /** A dataset at `path`. Its token is the status of its `_SUCCESS`
    * commit marker, or of the file itself for a fixture file. A directory
    * without a marker is uncommitted: its reads bypass the cache.
    */
  private[graft] final case class AtPath(path: String) extends Origin

  /** Values derived from fixture tables; the token is their
    * [[sourceFingerprint]]s.
    */
  private[graft] final case class FromSource(sfDir: String,
                                             tables: Seq[String])
      extends Origin

  /** One cached value and the token it was derived under. `marker` is the
    * path whose status the token is (null for a source token); `owner` is
    * the session of a checkpointed frame, weakly held so the cache never
    * extends a session's life (null for every other value).
    */
  private final class Entry(val cache: String, val marker: String,
                            val token: String, val value: Any,
                            val owner: java.lang.ref.WeakReference[SparkSession])

  private val cacheEntries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Hit, miss and evict counts of one cache since the JVM started. A
    * read of an uncommitted path counts as a miss.
    */
  private[graft] final case class CacheCounts(hits: Long, misses: Long,
                                              evicts: Long)
  private val counters = new java.util.concurrent.ConcurrentHashMap[
    String, Array[java.util.concurrent.atomic.LongAdder]]()
  private def count(cache: String, i: Int): Unit =
    counters.computeIfAbsent(cache,
      _ => Array.fill(3)(new java.util.concurrent.atomic.LongAdder))(i)
      .increment()
  private[graft] def cacheCounts: Map[String, CacheCounts] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (c, a) =>
      c -> CacheCounts(a(0).sum, a(1).sum, a(2).sum) }.toMap
  }

  /** A per-SparkSession-INSTANCE key component: a checkpointed frame pins
    * the session that made it, so a stop-and-recreate of the session in
    * the same JVM must miss. Identity-keyed weak map (two live sessions
    * can collide on hashCode), entries released with the session.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** (marker, token) of `origin` now, or None for an uncommitted path.
    * `hint` is the marker the key's previous entry used: it is stat'ed
    * first, so a hit costs one status call.
    */
  private def tokenOf(origin: Origin, hint: String): Option[(String, String)] =
    origin match {
      case FromSource(sfDir, tables) =>
        Some((null, tables.map(sourceFingerprint(sfDir, _)).mkString(",")))
      case AtPath(path) =>
        val fs = new Path(path).getFileSystem(hadoopConf)
        def file(m: String) =
          try Some(fs.getFileStatus(new Path(m))).filter(_.isFile)
            .map(st => (m, s"${st.getModificationTime}:${st.getLen}"))
          catch { case _: java.io.FileNotFoundException => None }
        val marker = s"$path/_SUCCESS"
        if (hint == path) file(path).orElse(file(marker))
        else file(marker).orElse(file(path))
    }

  /** The one lookup: `load` runs on a miss, and its value replaces the
    * key's entry of a superseded token (the one eviction path, besides
    * the dead-session purge of [[cachedFrame]]). `load` runs outside the
    * map's locks, so a load may itself read through the seam.
    */
  private def lookup[V](cache: String, key: String, origin: Origin,
                        owner: SparkSession)(load: => V): V = {
    val old = cacheEntries.get(key)
    tokenOf(origin, if (old == null) null else old.marker) match {
      case None =>
        count(cache, 1)
        load
      case Some((marker, token)) =>
        if (old != null && old.marker == marker && old.token == token) {
          count(cache, 0)
          old.value.asInstanceOf[V]
        } else {
          count(cache, 1)
          val fresh = new Entry(cache, marker, token, load,
            if (owner == null) null
            else new java.lang.ref.WeakReference(owner))
          var superseded: Entry = null
          val won = cacheEntries.compute(key, (_, cur) =>
            if (cur != null && cur.marker == marker && cur.token == token) cur
            else { superseded = cur; fresh })
          if (won ne fresh) drop(fresh)
          else if (superseded != null) {
            count(cache, 2)
            drop(superseded)
          }
          won.value.asInstanceOf[V]
        }
    }
  }

  private def drop(e: Entry): Unit =
    if (e.owner != null)
      graft.operators.Checkpoints.release(e.value.asInstanceOf[DataFrame])

  /** Install `value` as the entry a writer just committed at `origin`,
    * under the token it committed, so a reader in the same JVM does not
    * read back what the writer already holds. An uncommitted origin is
    * left alone.
    */
  private def seed(cache: String, key: String, origin: Origin,
                   value: Any): Unit =
    tokenOf(origin, null).foreach { case (marker, token) =>
      val old = cacheEntries.put(s"$cache#$key",
        new Entry(cache, marker, token, value, null))
      if (old != null && old.token != token) {
        count(cache, 2)
        drop(old)
      }
    }

  /** A value derived from `origin`, computed once per token. */
  private[graft] def cached[V](cache: String, key: String, origin: Origin)
                              (load: => V): V =
    lookup(cache, s"$cache#$key", origin, null)(load)

  /** A checkpointed frame derived from `origin`, computed once per
    * (session, key, token) and re-read after that. `key` is the frame's
    * identity minus what the token already says. A new token for the key
    * releases the superseded frame's blocks. Every call also purges the
    * frames of PROVABLY DEAD sessions (weak ref cleared or SparkContext
    * stopped): such a frame can never be served again. A live sibling
    * session's frames are kept — a released localCheckpoint block is not
    * recomputable, so evicting them would break its next re-read.
    */
  private[graft] def cachedFrame(spark: SparkSession, cache: String,
                                 key: String, origin: Origin)
                                (compute: => DataFrame): DataFrame = {
    cacheEntries.forEach { (k, e) =>
      if (e.owner != null) {
        val s = e.owner.get()
        if ((s ne spark) && (s == null || s.sparkContext.isStopped) &&
            cacheEntries.remove(k, e)) {
          count(e.cache, 2)
          drop(e)
        }
      }
    }
    lookup(cache, s"$cache#${sessionKey(spark)}#$key", origin, spark) {
      val frame = compute
      // a frame the compute already checkpointed (a LogicalRDD leaf) is
      // kept as is: a second copy's blocks would pin the inner copy
      frame.queryExecution.logical match {
        case _: org.apache.spark.sql.execution.LogicalRDD => frame
        case _ => frame.localCheckpoint(true)
      }
    }
  }

  /** Test seam: clear the weak refs to `spark` held by its frames, as a
    * GC of the session instance would.
    */
  private[graft] def forgetSession(spark: SparkSession): Unit =
    cacheEntries.values.forEach { e =>
      if (e.owner != null && (e.owner.get() eq spark)) e.owner.clear()
    }

  /** A tombstone segment's deleted ids (its `vec_id` column) on the
    * driver, loaded once per committed segment: the small-Q IVF read's
    * mask and the small-Q graph ranking share this one entry kind.
    */
  private[graft] def tombstoneIds(spark: SparkSession,
                                  path: String): Array[Long] =
    cached("tombstoneIds", path, AtPath(path))(
      readCached(spark, path).select("vec_id").collect()
        .filterNot(_.isNullAt(0)).map(_.getAs[Number](0).longValue))

  /** [[SparkSession.read.parquet]] with the schema cached per committed
    * path — THE read seam for fixture tables, index artifacts and
    * manifest segments. Schema inference is a driver-side footer read
    * (~0.1 s per call at fixture scale) on every `spark.read.parquet`;
    * the data files are still listed and read on every call. Inference
    * failures propagate uncached (e.g. the TIMESTAMP(NANOS) refusal
    * [[graft.Tables]] branches on).
    */
  def readCached(spark: SparkSession, path: String): DataFrame = {
    var inferred: DataFrame = null
    val schema = cached("schema", path, AtPath(path)) {
      inferred = spark.read.parquet(path)
      inferred.schema
    }
    if (inferred != null) inferred else spark.read.schema(schema).parquet(path)
  }

  /** Seed [[readCached]]'s schema of a dataset just written at `path`:
    * the writer knows what inference would find, so the first read
    * skips it.
    */
  private[graft] def seedSchema(path: String, schema: StructType): Unit =
    seed("schema", path, AtPath(path), schema)

  def committed(path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(hadoopConf).exists(p)
  }

  /** Whether the dataset at `path` holds a data file (one listing, no
    * Spark job): an empty write leaves only its `_SUCCESS` marker.
    */
  private[graft] def holdsData(path: String): Boolean = {
    val p = new Path(path)
    val it = p.getFileSystem(hadoopConf).listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val name = it.next().getPath.getName
      found = !name.startsWith("_") && !name.startsWith(".")
    }
    found
  }

  /** Per-(fixture, index-name) directory under the JVM temp root — the
    * stand-in for the index's durable location (HDFS/object store in a
    * cluster deployment; swap the root for a `hdfs://`/`s3a://` URI and
    * the FileSystem-based checks keep working). The key embeds a
    * fingerprint of the SOURCE table's file (size + mtime), so a
    * regenerated fixture at the same path gets a fresh index instead of
    * silently serving a stale one; builders additionally version their
    * `name` (e.g. "dedup-v2") so a builder-code change invalidates too.
    * Rebuild/read races are out of scope: one driver process owns an
    * index dir (the cluster analog is a build job + readers of committed
    * snapshots).
    */
  def indexDir(sfDir: String, name: String, sourceTable: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_index_" + sfDir.replaceAll("[^A-Za-z0-9]", "_"),
      s"$name-${sourceFingerprint(sfDir, sourceTable)}").toString

  /** The SOURCE table's (size + mtime) fingerprint as a hex token — what
    * [[indexDir]] embeds in every index path, and the token of every
    * source-derived cache entry ([[FromSource]]).
    */
  private def sourceFingerprint(sfDir: String,
                                sourceTable: String): String = {
    val src = new Path(sfDir, s"$sourceTable.parquet")
    val fs = src.getFileSystem(hadoopConf)
    java.lang.Long.toHexString(fingerprint(fs, fs.getFileStatus(src)))
  }

  /** Recursive (name, size, mtime) digest — handles both single-file and
    * directory-shaped parquet datasets (a directory's own length/mtime say
    * nothing about part-file rewrites). Children are folded in sorted
    * order so listing order can't change the value. An in-place rewrite
    * within one mtime millisecond AND identical sizes still collides —
    * the usual mtime-check caveat, accepted here.
    */
  private def fingerprint(fs: FileSystem, st: FileStatus): Long = {
    val own = st.getPath.getName.hashCode.toLong ^ st.getLen ^
      java.lang.Long.rotateLeft(st.getModificationTime, 21)
    if (!st.isDirectory) own
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName)
      .foldLeft(own) { (acc, c) =>
        java.lang.Long.rotateLeft(acc, 7) ^ fingerprint(fs, c)
      }
  }

  /** Manifest-based version layout — the snapshot pattern of log-structured
    * table formats (Iceberg/Delta, public knowledge): a version is a TINY
    * committed parquet dataset at `versionDir/manifest` whose rows name the
    * version's IMMUTABLE data segments, `(artifact, path, seq)`. An append
    * writes ONLY the batch's new segments plus one new manifest that
    * re-references the predecessor's rows — no corpus data is ever copied
    * or rewritten per version, so version I/O is O(batch) like the
    * reference's `index.add_with_ids` (`main.py:134`), not O(corpus).
    * The manifest is written LAST: its `_SUCCESS` is the whole-version
    * commit marker (a crash after the segments but before the manifest
    * reads as "version never existed", and a checkpointed replay rewrites
    * the same segments deterministically).
    */
  /** Compaction policy shared by every manifested store (flat upsert
    * store and IVF chain): when writing a version would push one
    * artifact's segment list PAST this bound, the writer folds the whole
    * resolved artifact into a single fresh segment instead of appending a
    * delta — the level-0 file cap of log-structured tables. The bound is
    * what turns merge-on-read from "grows forever" into a constant
    * read-amplification factor: reads union at most `DefaultMaxSegments`
    * segment scans, and the compaction's O(corpus) rewrite is amortized
    * over the `DefaultMaxSegments − 1` O(batch) appends it re-arms. The
    * policy is derived purely from the PREDECESSOR's manifest, so a
    * checkpointed replay of a batch makes the same decision and rewrites
    * the same version deterministically.
    */
  val DefaultMaxSegments: Int = 8

  def writeManifest(spark: SparkSession, versionDir: String,
                    entries: Seq[(String, String, Long)]): Unit = {
    import spark.implicits._
    saveDataset(entries.toDF("artifact", "path", "seq")
      .coalesce(1), s"$versionDir/manifest")
    // the rows just committed are what [[readManifest]] would read back
    seed("manifest", versionDir,
      AtPath(s"$versionDir/manifest"), entries.sortBy(e => (e._1, e._3)))
  }

  /** The version's `(artifact, path, seq)` rows, ordered by (artifact,
    * seq). The row count is the number of segments ever appended — at most
    * versions-retained × artifacts — so the collect is control-plane
    * metadata, never data.
    *
    * A committed manifest is cached in the seam ([[cached]]): it is
    * written last and exactly once, so re-reading it is a pure re-fetch
    * of identical bytes. Without the cache every manifested read path
    * (layout resolution, tombstone lookup, segment load) pays one Spark
    * job per manifest per call (round 17, `search_asof_sharded`). An
    * uncommitted path bypasses the cache and keeps its read-fails-loudly
    * behavior.
    */
  def readManifest(spark: SparkSession,
                   versionDir: String): Seq[(String, String, Long)] =
    cached("manifest", versionDir, AtPath(s"$versionDir/manifest")) {
      spark.read.parquet(s"$versionDir/manifest")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(e => (e._1, e._3)).toSeq
    }

  /** seq-ordered segment paths of one artifact. */
  def manifestSegments(entries: Seq[(String, String, Long)],
                       artifact: String): Seq[String] =
    entries.filter(_._1 == artifact).sortBy(_._3).map(_._2)

  /** One artifact of a manifested version as the union of its immutable
    * segments — the reader for INSERT-ONLY artifacts (signature tables,
    * vector tables). Artifacts needing row resolution (LWW mappings)
    * layer their merge on top (e.g.
    * [[graft.streaming.StreamingIndex.loadMappingAt]]).
    */
  /** Union-read a list of immutable segment paths — THE one
    * segment-resolution seam ([[loadSegments]], the streaming store's
    * schema-pinned reader and the IVF layout reader all delegate here,
    * so empty-segment/ordering/schema-merge behavior cannot drift
    * between the three stores).
    */
  def readUnion(spark: SparkSession, paths: Seq[String],
                schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    paths
      .map(p => schema.fold(readCached(spark, p))(s =>
        spark.read.schema(s).parquet(p)))
      .reduce(_ unionByName _)

  def loadSegments(spark: SparkSession, versionDir: String,
                   artifact: String): DataFrame =
    readUnion(spark,
      manifestSegments(readManifest(spark, versionDir), artifact))

  def save(mapping: DataFrame, vectors: DataFrame, dir: String): Unit = {
    saveDataset(mapping, s"$dir/mapping")
    saveDataset(vectors, s"$dir/vectors")
  }

  /** Load a dataset if a committed copy exists, else an empty DataFrame
    * with the expected schema (the reference's load-or-init,
    * `main.py:55-63`).
    */
  def loadOrInit(spark: SparkSession, path: String,
                 schema: StructType): DataFrame =
    if (committed(path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def loadMapping(spark: SparkSession, dir: String,
                  schema: StructType): DataFrame =
    loadOrInit(spark, s"$dir/mapping", schema)

  def loadVectors(spark: SparkSession, dir: String,
                  schema: StructType): DataFrame =
    loadOrInit(spark, s"$dir/vectors", schema)
}
