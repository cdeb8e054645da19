package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash._
import graft.functions.VectorOps._
import graft.sources.IndexStore

/** Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup. The fixture corpus has no natural duplicates
  * (500 distinct texts), so each operator runs over a deterministic
  * "injected" corpus: documents ∪ a near-duplicate of each (id + 10000,
  * text minus its first token / embedding plus a small constant offset).
  * That keeps the positive pairs known and the oracle exact.
  *
  * Scale shapes (100 TB):
  *  - exact: hash-groupBy on a normalized-text key — one shuffle.
  *  - MinHash: shingle → signature → band buckets; candidates come from
  *    equi-joins on (band, band_key), never an all-pairs product.
  *  - SimHash: 64-bit signature in 4×16-bit bands; candidates share a
  *    band (default) or a band PAIR (the ≥10⁸-doc mode — see
  *    [[simhashDedup]] for the candidate-volume math).
  *  - Jaccard: blocking equi-join on shared shingles, then exact set math
  *    on candidates only.
  *  - embedding: exact all-pairs here; the LSH/IVF pruned path is in
  *    [[AnnSearch]].
  */
object Dedup {

  /** SimHash blocking-mode switch point: above this corpus count the
    * single-band candidate volume (4·C(n,2)/2¹⁶ probe pairs) crosses
    * ~10¹¹ — compute-bound and growing n² — while the paired-band mode's
    * 6·C(n,2)/2³² stays ≪ 10⁸. 10⁷ leaves an order of magnitude of
    * headroom below the documented 10⁸ single-band ceiling.
    */
  private[graft] val PairedBandsAutoThreshold = 10L * 1000 * 1000

  private[graft] def autoPairedBands(n: Long): Boolean =
    n > PairedBandsAutoThreshold

  /** Near-dup corpus count for mode auto-selection, one count job per
    * `documents` fingerprint ([[IndexStore.cached]]).
    */
  private[graft] def corpusCount(spark: SparkSession, sfDir: String): Long =
    IndexStore.cached("corpusCount", sfDir,
      IndexStore.FromSource(sfDir, Seq("documents")))(
      nearDupCorpus(spark, sfDir).count())

  /** documents plus one near-duplicate per doc (first token dropped). */
  def nearDupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    docs.unionAll(docs.select(
      (col("doc_id") + 10000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  /** Distinct word n-gram shingles per document. */
  def shingles(corpus: DataFrame, n: Int = 3): DataFrame =
    corpus.select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), explode(
        when(size(col("l")) >= n,
          transform(sequence(lit(1), size(col("l")) - (n - 1)),
            k => concat_ws(" ", slice(col("l"), k, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("sh"))
      .distinct()

  /** Distinct 64-bit shingle-hash set per document, WITHOUT building
    * shingle strings: per-token xxhash64, then each n-window folds its
    * token hashes with xxhash64(acc, x) (order-sensitive, overflow-free
    * under ANSI). Tokens cannot contain the split character, so the
    * joined string and the token tuple determine each other — hash
    * equality matches the oracle's raw-string equality w.h.p. (the
    * hash exists ONLY for equality; collision expectation ≪ 1).
    * Measured r17: building + hashing the concat_ws shingle strings was
    * ~3.5× the cost of this combine at sf0.1, and the old string-keyed
    * distinct shuffled strings where this shuffles 8-byte keys.
    * [[shingleTable]] keeps its md5-derived keys: the md5 there is
    * already computed for the semantic minhash input `x` (and it is a
    * PERSISTED artifact).
    */
  private[graft] def shingleHashes(corpus: DataFrame,
                                   n: Int = 3): DataFrame =
    corpus
      .select(col("doc_id"),
        transform(split(col("text"), " "), x => xxhash64(x)).as("hs"))
      .select(col("doc_id"), explode(
        when(size(col("hs")) >= n,
          transform(sequence(lit(1), size(col("hs")) - (n - 1)),
            k => aggregate(slice(col("hs"), k, lit(n)), lit(0L),
              (acc, x) => xxhash64(acc, x))))
          .otherwise(array().cast("array<bigint>"))).as("h"))
      .distinct()

  /** Both hash views of a shingle set in one projection: the 48-bit
    * set-intersection key `h` and the 32-bit minhash input `x`. This is
    * the dataset the index store persists — ONE tokenize pass yields
    * everything signatures and verification need.
    */
  private[graft] def shingleTable(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long").as("h"),
      hash32(col("sh")).as("x"))

  /** (doc_id, band, band_key) LSH band keys from a hashed (doc_id, x)
    * shingle view (callers feed it the materialized [[shingleTable]] —
    * bands derive from stored hashes, never from re-shingled text): all
    * 12 minhashes in ONE aggregation pass (no 12× row blowup, no (doc, i)
    * shuffle — one min() column per hash function), then the 4 order-free
    * band keys built column-wise (Σ mh·(slot+1) over the band's 3 slots —
    * identical integer math to the oracle).
    */
  private def bandKeysFromHashes(hashes: DataFrame): DataFrame = {
    val consts = minhashConsts(12)
    val sig = hashes.groupBy(col("doc_id"))
      .agg(
        min((col("x") * consts.head._2 + consts.head._3) % MinhashPrime)
          .as("mh0"),
        consts.tail.map { case (i, a, b) =>
          min((col("x") * a + b) % MinhashPrime).as(s"mh$i")
        }: _*)
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map { b =>
        struct(lit(b.toLong).as("band"),
          (col(s"mh${3 * b}") * 1 + col(s"mh${3 * b + 1}") * 2 +
            col(s"mh${3 * b + 2}") * 3).as("band_key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Load-or-build the injected-corpus shingle table — the same
    * signature-store pattern as the incremental index: the corpus is
    * shingled once per data fingerprint, and every minhash/jaccard query
    * after that reads the stored (doc_id, h, x) table instead of
    * re-tokenizing the corpus.
    */
  private[graft] def injectedShingleTable(spark: SparkSession,
                                          sfDir: String): DataFrame = {
    val dir = IndexStore.indexDir(sfDir, "dedup-inj-v1", "documents")
    if (!IndexStore.committed(s"$dir/shingles"))
      IndexStore.saveDataset(
        shingleTable(shingles(nearDupCorpus(spark, sfDir))),
        s"$dir/shingles")
    IndexStore.readCached(spark, s"$dir/shingles")
  }

  /** Exact dedup: group by whitespace-normalized lowercase text, keep the
    * min id as canonical; output duplicate groups. Corpus = documents plus
    * exact copies (id + 10000) so groups exist.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    corpus
      .select(col("doc_id"), normTextKey(col("text")).as("key"))
      .groupBy(col("key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2)
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")
  }

  /** MinHash + LSH banding near-dup detection, then exact Jaccard
    * verification of the banded candidates. 12 hashes, 4 bands of 3.
    *
    * Signature and verification branches both read the PERSISTED shingle
    * table ([[injectedShingleTable]]) — the corpus is tokenized once per
    * data version, not once per branch per query.
    */
  def minhashDedup(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.5): DataFrame = {
    val t = injectedShingleTable(spark, sfDir)
    val bands = bandKeysFromHashes(t.select(col("doc_id"), col("x")))
    val left = bands.select(col("doc_id").as("doc_a"), col("band"),
      col("band_key"))
    val right = bands.select(col("doc_id").as("doc_b"), col("band").as("b2"),
      col("band_key").as("k2"))
    val cand = left.join(right,
        col("band") === col("b2") && col("band_key") === col("k2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val hsh = t.select(col("doc_id"), col("h"))
    val s1 = hsh.select(col("doc_id").as("doc_a"), col("h"))
    val s2 = hsh.select(col("doc_id").as("doc_b2"), col("h").as("h2"))
    // candidates are few → drive the joins from cand so only candidate
    // docs' shingles are ever joined
    val inter = cand.join(s1, "doc_a")
      .join(s2, col("doc_b") === col("doc_b2") && col("h") === col("h2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    jaccardFromCounts(inter, hsh, threshold)
  }

  /** The MinHash near-dup flagship through the PURE-SQL surface — what a
    * SQL-only consumer of the library runs (the search twins are
    * `sql_vector_knn` / `sql_ann_ivf` / `sql_bm25_search`; this closes
    * the dedup tier). The persisted signature artifact
    * ([[injectedShingleTable]] — (doc_id, h, x), built once per data
    * version) is exposed as a view, and the whole
    * signature → band → candidate → exact-Jaccard pipeline is ONE ANSI
    * statement: 12 minhashes from a VALUES constants table (same (a, b,
    * prime) as [[bandKeysFromHashes]]), 4 order-free band keys, the band
    * equi-join for candidates (never all-pairs — the statement's joins
    * are all equi-joins, so Catalyst plans shuffled hash/sort-merge
    * joins, no cartesian), then set-intersection verification over the
    * stored 48-bit hashes. Same integer math, same rounding, same
    * ordering → bit-identical rows to [[minhashDedup]] (spec-asserted),
    * so the SQL surface shares `minhash_dedup`'s oracle verbatim.
    */
  /** The signature → band → candidate → exact-Jaccard CTE chain over the
    * exposed shingle view, ending in a `pairs` CTE of the
    * threshold-passing near-dup pairs — the shared SQL front half of
    * [[sqlMinhashDedup]] and [[sqlDupGroups]] (one formulation, so the
    * SQL pair semantics cannot fork between the pair list and the
    * closure). The threshold is a NAMED PARAMETER, bound at
    * `spark.sql(text, args)` — never string-interpolated.
    */
  private val MinhashPairsCtes: String =
    """consts AS (
      |  SELECT * FROM VALUES
      |    (0,37,17),(1,49,118),(2,61,219),(3,73,320),(4,85,421),
      |    (5,97,522),(6,109,623),(7,121,724),(8,133,825),(9,145,926),
      |    (10,157,1027),(11,169,1128) AS t(i, a, b)
      |),
      |mh AS (
      |  SELECT doc_id, i, min((a * x + b) % 4294967291) AS mh
      |  FROM dedup_shingles_sql CROSS JOIN consts
      |  GROUP BY doc_id, i
      |),
      |bands AS (
      |  SELECT doc_id, i div 3 AS band,
      |    sum(mh * (i % 3 + 1)) AS band_key
      |  FROM mh GROUP BY doc_id, i div 3
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id
      |),
      |sizes AS (
      |  SELECT doc_id, count(*) AS n
      |  FROM dedup_shingles_sql GROUP BY doc_id
      |),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS ni
      |  FROM cand c
      |  JOIN dedup_shingles_sql s1 ON s1.doc_id = c.doc_a
      |  JOIN dedup_shingles_sql s2 ON s2.doc_id = c.doc_b
      |   AND s2.h = s1.h
      |  GROUP BY c.doc_a, c.doc_b
      |),
      |scored AS (
      |  SELECT i.doc_a, i.doc_b,
      |    CAST(ni AS DOUBLE) / (na.n + nb.n - ni) AS jacc
      |  FROM inter i
      |  JOIN sizes na ON na.doc_id = i.doc_a
      |  JOIN sizes nb ON nb.doc_id = i.doc_b
      |),
      |pairs AS (
      |  SELECT doc_a, doc_b, jacc FROM scored WHERE jacc >= :threshold
      |)""".stripMargin

  def sqlMinhashDedup(spark: SparkSession, sfDir: String,
                      threshold: Double = 0.5): DataFrame = {
    injectedShingleTable(spark, sfDir)
      .createOrReplaceTempView("dedup_shingles_sql")
    spark.sql(
      s"""WITH $MinhashPairsCtes
         |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard
         |FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
      Map("threshold" -> threshold))
  }

  /** How many min-propagation rounds [[sqlDupGroups]] unrolls. Plain SQL
    * (no recursion) needs `diameter` rounds for the component minimum to
    * reach every member; measured on the sf0.1 fixture, plain
    * propagation converges in 2 rounds (the injected groups are stars —
    * the 2nd round is already the no-change confirmation), and the spec
    * asserts bit-identity with the converged iterative [[dupGroups]], so
    * a fixture change that outgrows this cap fails loudly rather than
    * mislabeling. 6 = 3× the measured need; each round costs a fixed
    * ~0.3 s of shuffle latency over the materialized pair view, so slack
    * is priced, not free.
    */
  private[graft] val SqlClosureRounds = 6

  /** Duplicate GROUPS through the PURE-SQL surface — the last dedup tier
    * a SQL-only consumer couldn't reach. True recursion is not available
    * (Spark 4.1 rejects UNION-distinct inside WITH RECURSIVE, and the
    * UNION ALL form cannot reach a fixpoint on a cyclic pair graph), so
    * the closure is the VERDICT-suggested bounded unroll:
    * [[SqlClosureRounds]] chained rounds of label(x) := min over
    * (neighbors ∪ self) of label — each round ONE generated CTE that
    * references its predecessor exactly once (self-loops in the
    * adjacency make the single aggregate cover the keep-own-label case).
    *
    * TWO statements, exactly as a SQL user would stage it: the shared
    * [[MinhashPairsCtes]] pair list is MATERIALIZED first (the CREATE
    * TABLE AS step of any iterative SQL algorithm), then the unroll runs
    * over the tiny pair view. The staging is load-bearing, not style:
    * Spark inlines CTEs per reference, so a single combined statement
    * re-evaluates the O(corpus) signature front half once per round —
    * measured 300 parquet scans and 7 s where the staged form does one
    * front-half pass and ~0.9 s. Output and ordering match [[dupGroups]]
    * bit-for-bit (spec-asserted), so the entry shares `dup_groups`'
    * recursive DuckDB oracle verbatim.
    */
  def sqlDupGroups(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.5): DataFrame = {
    injectedShingleTable(spark, sfDir)
      .createOrReplaceTempView("dedup_shingles_sql")
    sqlClosureOver(spark,
      spark.sql(
        s"""WITH $MinhashPairsCtes
           |SELECT doc_a, doc_b FROM pairs""".stripMargin,
        Map("threshold" -> threshold)),
      SqlClosureRounds)
  }

  /** The bounded min-propagation unroll over an ARBITRARY 2-column pair
    * frame — [[sqlDupGroups]]' closure half, `private[graft]` so
    * property tests can cross-check it against the iterative
    * [[components]] on generated graphs (and show the round bound is
    * real, not vacuous, on a path longer than `rounds`). The pair frame
    * is materialized once (see [[sqlDupGroups]]' scaladoc for why that
    * staging is load-bearing).
    */
  private[graft] def sqlClosureOver(spark: SparkSession, pairs: DataFrame,
                                    rounds: Int): DataFrame = {
    pairs
      .select(col(pairs.columns(0)).as("doc_a"),
        col(pairs.columns(1)).as("doc_b"))
      .localCheckpoint(true)
      .createOrReplaceTempView("dedup_pairs_sql")
    // the LAST round also carries each node's OWN previous-round label —
    // read off the self-loop adjacency row, NOT via a second reference to
    // r{rounds-1} (CTEs inline per reference, so that would re-evaluate
    // the whole chain) — making convergence checkable at runtime for the
    // cost of one extra aggregate in one round
    val roundCtes = (1 to rounds).map { i =>
      val prev = if (i == rounds)
        ",\n    min(CASE WHEN a.dst = a.src THEN r.label END) AS prev_label"
      else ""
      s"""r$i AS (
         |  SELECT a.src AS id, min(r.label) AS label$prev
         |  FROM adj a JOIN r${i - 1} r ON r.id = a.dst
         |  GROUP BY a.src
         |)""".stripMargin
    }.mkString(",\n")
    // runtime convergence gate: a graph whose diameter outgrew the round
    // cap must fail LOUDLY (assert_true), never return mislabeled
    // components — convergence means the final round changed nothing, so
    // the cap must exceed the diameter by one (a confirmation round).
    // The change count is a window over the final round's (tiny,
    // pair-graph-nodes-only) frame — no second chain evaluation.
    spark.sql(
      s"""WITH edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM dedup_pairs_sql
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM dedup_pairs_sql
         |),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |adj AS (
         |  SELECT src, dst FROM edges
         |  UNION ALL
         |  SELECT id, id FROM nodes
         |),
         |r0 AS (SELECT id, id AS label FROM nodes),
         |$roundCtes
         |SELECT doc_id, component FROM (
         |  SELECT id AS doc_id, label AS component,
         |    count(CASE WHEN label <> prev_label THEN 1 END) OVER ()
         |      AS moved
         |  FROM r$rounds
         |)
         |WHERE assert_true(moved = 0,
         |  'sqlClosureOver: unconverged after $rounds rounds - ' ||
         |  'component labels would be wrong; raise the round cap')
         |  IS NULL
         |ORDER BY doc_id""".stripMargin)
  }

  /** Build (once) the persisted dedup index for the corpus: the shingle
    * hash table is materialized FIRST (one tokenize pass), then the band
    * keys are derived from the stored 32-bit hashes — the corpus text is
    * shingled exactly once in the whole build. At 100 TB this is the
    * nightly/bootstrap job; every incremental batch then joins against
    * these artifacts without touching corpus text again.
    */
  def buildDedupIndex(spark: SparkSession, sfDir: String,
                      dir: String): Unit = {
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    IndexStore.saveDataset(shingleTable(shingles(corpus)), s"$dir/shingles")
    val stored = IndexStore.readCached(spark, s"$dir/shingles")
    IndexStore.saveDataset(
      bandKeysFromHashes(stored.select(col("doc_id"), col("x"))),
      s"$dir/bands")
  }

  /** Incremental near-dup: dedupe a NEW batch against the EXISTING corpus
    * (the production flow at 100 TB). Corpus-side band keys and hashed
    * shingles are precomputed ONCE by [[buildDedupIndex]] and read back
    * from the store — only the new batch is shingled/signed per run; the
    * corpus branch of the plan is a parquet scan of the persisted
    * signatures, not a re-shingle.
    *
    * Corpus = original documents, new batch = the id+10000 variants;
    * output = new-batch docs matched to a corpus doc via MinHash band
    * equi-join, verified by exact Jaccard ≥ threshold — pair-for-pair the
    * cross-partition subset of [[minhashDedup]].
    */
  def incrementalDedup(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.5): DataFrame = {
    val dir = ensureIncrementalArtifacts(spark, sfDir)
    dedupBatchAgainstIndex(
      IndexStore.readCached(spark, s"$dir/bands"),
      IndexStore.readCached(spark, s"$dir/shingles"),
      IndexStore.readCached(spark, s"$dir/batch_shingles"), threshold)
  }

  /** The batch-vs-corpus core over persisted signature artifacts: band
    * equi-join candidates, exact-Jaccard verification, (new_doc, dup_of,
    * jaccard) out. Shared by the batch entry ([[incrementalDedup]]) and
    * the streaming micro-batch fold
    * ([[graft.streaming.StreamingIndex.streamingCorpusDedup]]) so the two
    * paths can never drift. `bt` is a [[shingleTable]]-shaped frame for
    * the NEW batch; the corpus side is only ever read, never re-shingled.
    */
  private[graft] def dedupBatchAgainstIndex(corpusBands: DataFrame,
                                            corpusSh: DataFrame,
                                            bt: DataFrame,
                                            threshold: Double): DataFrame = {
    val cand = corpusBands
      .select(col("doc_id").as("dup_of"), col("band"), col("band_key"))
      .join(bandKeysFromHashes(bt.select(col("doc_id"), col("x")))
          .select(col("doc_id").as("new_doc"),
            col("band").as("b2"), col("band_key").as("k2")),
        col("band") === col("b2") && col("band_key") === col("k2"))
      .select(col("new_doc"), col("dup_of")).distinct()
    val bh = bt.select(col("doc_id"), col("h"))
    val inter = cand
      .join(bh.select(col("doc_id").as("new_doc"), col("h")), "new_doc")
      .join(corpusSh.select(col("doc_id").as("c2"), col("h").as("h2")),
        col("dup_of") === col("c2") && col("h") === col("h2"))
      .groupBy(col("new_doc"), col("dup_of")).agg(count(lit(1)).as("ni"))
    val na = corpusSh.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
      .select(col("doc_id").as("dup_of"), col("na"))
    val nb = bh.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
      .select(col("doc_id").as("new_doc"), col("nb"))
    inter.join(na, "dup_of").join(nb, "new_doc")
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_doc"), col("dup_of"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("new_doc", "dup_of")
  }

  /** Ensure the corpus index AND the current batch's signatures exist,
    * committed, under the fingerprinted incremental-dedup dir — shared by
    * the incremental query and the index-merge step. The batch's shingle
    * table is materialized once per data version, gated on committed()
    * exactly like the corpus artifacts (production: these are the
    * signatures later merged into the corpus index); bands, intersection
    * and size counts all read the stored copy, so the batch text is
    * shingled exactly ONCE — not once per consumer. Committed-gating (vs
    * overwrite-per-run) also means a DataFrame returned by an earlier call
    * never holds a stale file listing, and concurrent calls can't race on
    * the shared fingerprinted dir: the first writer wins and everyone
    * reads the same committed snapshot.
    */
  private def ensureIncrementalArtifacts(spark: SparkSession,
                                         sfDir: String): String = {
    val dir = ensureCorpusIndex(spark, sfDir)
    if (!IndexStore.committed(s"$dir/batch_shingles")) {
      val batch = Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") + 10000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text"))
      IndexStore.saveDataset(shingleTable(shingles(batch)),
        s"$dir/batch_shingles")
    }
    dir
  }

  /** Load-or-build gate for the CORPUS-side signature index alone (no
    * batch staging) — what a streaming consumer folds its micro-batches
    * against.
    */
  private[graft] def ensureCorpusIndex(spark: SparkSession,
                                       sfDir: String): String = {
    val dir = IndexStore.indexDir(sfDir, "dedup-v2", "documents")
    if (!IndexStore.committed(s"$dir/bands") ||
        !IndexStore.committed(s"$dir/shingles"))
      buildDedupIndex(spark, sfDir, dir)
    dir
  }

  /** The post-merge READ path that closes the incremental loop: fold the
    * batch signatures into a NEW index version ([[mergeBatchIntoIndex]]),
    * then answer the full MinHash near-dup query from the MERGED artifacts
    * alone — band keys from `out/bands`, verification shingles from
    * `out/shingles`, no document text touched. On the fixture the merged
    * version holds exactly the injected corpus's signatures, so the result
    * is pair-for-pair [[minhashDedup]] and shares its oracle — the gate
    * proves BOTH merged artifacts are complete and correct, not just
    * row-counted.
    */
  def mergedIndexDedup(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.5): DataFrame = {
    val dir = ensureIncrementalArtifacts(spark, sfDir)
    val out = IndexStore.indexDir(sfDir, "dedup-merged-v2", "documents")
    if (!IndexStore.committed(s"$out/manifest"))
      mergeBatchIntoIndex(spark, dir, out)
    val bands = IndexStore.loadSegments(spark, out, "bands")
    val cand = bands
      .select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
      .join(bands.select(col("doc_id").as("doc_b"),
          col("band").as("b2"), col("band_key").as("k2")),
        col("band") === col("b2") && col("band_key") === col("k2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val hsh = IndexStore.loadSegments(spark, out, "shingles")
      .select(col("doc_id"), col("h"))
    val inter = cand
      .join(hsh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(hsh.select(col("doc_id").as("doc_b2"), col("h").as("h2")),
        col("doc_b") === col("doc_b2") && col("h") === col("h2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    jaccardFromCounts(inter, hsh, threshold)
  }

  /** Duplicate GROUPS from the near-dup pair graph: connected components —
    * every doc in a component gets the component's min doc_id as its
    * label, which is the form a pipeline actually deletes from (keep
    * label, drop the rest), vs the raw pair list.
    */
  def dupGroups(spark: SparkSession, sfDir: String,
                threshold: Double = 0.5,
                maxIters: Int = 20): DataFrame =
    components(minhashDedup(spark, sfDir, threshold)
      .select(col("doc_a"), col("doc_b")), maxIters)

  /** The DELETION step of near-dup dedup — the piece that actually
    * shrinks the corpus: per duplicate component keep the
    * highest-quality member (ties → lowest doc_id) and report what was
    * dropped. Composes [[dupGroups]] with
    * [[TextAnalysis.qualityScore]]'s blend; an injected 10000-shifted
    * corpus copy scores via its base doc (same text ⇒ same quality ⇒
    * the base id wins its pair, as a pipeline would want).
    *
    * Scale shape: everything after components() is one join of the
    * (doc, component) table against per-doc quality plus one
    * per-component window — both keyed shuffles; no pass re-reads text.
    */
  def dedupKeepBest(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.5): DataFrame = {
    // FIXTURE WIRING, not operator logic: the injected corpus copy
    // (id + 10000) carries its base doc's text minus one token, so its
    // quality is its base doc's score — the id arithmetic lives here,
    // where the corpus is defined, and [[keepBest]] sees only an
    // arbitrary (doc_id, quality) frame.
    val q = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val corpusQuality = q.unionAll(q.select(
      (col("doc_id") + 10000).as("doc_id"), col("quality")))
    keepBest(dupGroups(spark, sfDir, threshold), corpusQuality)
  }

  /** Core of the deletion step, corpus-agnostic: (doc_id, component)
    * labels joined to any per-doc (doc_id, quality) frame; per component
    * keep the highest-quality member (ties → lowest doc_id).
    */
  def keepBest(comp: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = comp.join(
        quality.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .select(col("doc_id"), col("component"), col("quality"))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    // member count as a second window over the SAME partitioning (one
    // WindowExec pass, no extra exchange) instead of a separate
    // aggregate + join back (r17: two exchanges removed; rows identical)
    members
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("component")))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_doc"),
        col("quality").as("keep_quality"), col("n_members"))
      .orderBy("component")
  }

  /** Connected components over an undirected pair list by neighbor-min
    * propagation PLUS pointer jumping (label := label(label)) — each round
    * a node's label both takes the min over its neighbors' labels and then
    * jumps to that label-node's own label, so known-minimum information
    * travels ~2× the distance per round: convergence is O(log diameter)
    * rounds, not O(diameter) (the same doubling idea as the
    * large-star/small-star MapReduce algorithm). A 50-node path converges
    * in ~7 rounds where plain min-propagation needs 50 (spec-proven under
    * a 10-round cap).
    *
    * Scale shape: each round is two equi-joins + one min-aggregate over
    * the edge list; the driver-side loop is the CONTROL plane only (a
    * converged? flag per round, exactly like GraphX/Pregel); per-round
    * lineage is cut with an eager localCheckpoint so plans stay O(1)
    * deep regardless of iteration count.
    *
    * Correctness at the fixed point: labels are node ids and only ever
    * decrease, so label(x) ≤ x throughout; convergence means every node's
    * label ≤ all its neighbors' labels — symmetric across each edge, so
    * labels are constant per component — and label(label(x)) = label(x),
    * so that constant is a root = the component minimum.
    */
  private[graft] def components(pairs: DataFrame,
                                maxIters: Int = 20): DataFrame = {
    // materialize the edge list ONCE — it is referenced by every
    // propagation round, and without the lineage cut each round would
    // re-run the whole candidate pipeline that produced it
    val edges = pairs.unionAll(
      pairs.select(pairs.columns.map(col).reverse: _*)).toDF("src", "dst")
      .localCheckpoint(true)
    // priced broadcast for the per-round label lookups (r18 — the
    // [[GraphAnn.searchTraceAt]] hinted() discipline): the label/
    // neighbor-min frames are ≤ node-count rows (nodes ≤ edge rows), so
    // a cheap count over the just-materialized checkpoint prices them.
    // Under the limit each round's three label joins ride broadcasts —
    // one exchange per round (the neighbor-min aggregate) instead of
    // the 5-6 a sort-merge plan pays over unknown-stats checkpoints; at
    // corpus scale the hint drops and the plan is exactly the old one.
    val nEdges = edges.count()
    def hinted(df: DataFrame): DataFrame =
      if (nEdges * 32L > AnnSearch.BroadcastProbeByteLimit) df
      else broadcast(df)
    // seed labels at min(id, min neighbor) — exactly what round 1's
    // neighbor-min would compute from identity labels, for the same
    // one aggregation the identity init paid for its distinct() (r17):
    // shallow components (the dominant near-dup shape, 2-node pairs)
    // then converge one full round earlier. Still a node id, still
    // ≥ the component minimum — the fixed-point argument is unchanged.
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("nl"))
      .select(col("src").as("id"),
        least(col("src"), col("nl")).as("label"))
      .localCheckpoint(true)
    // the superseded round's checkpoint blocks are released as soon as
    // the next round is materialized ([[Checkpoints]]); `labels` after
    // round 1 is a projection OVER the round's checkpoint, so the
    // released handle is tracked separately
    var prevCp = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(hinted(labels), edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
      val stepped = labels
        .join(hinted(neighborMin), labels("id") === neighborMin("src"),
          "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label")))
            .as("l1"), col("label").as("old_label"))
      // pointer jump: follow the candidate label to ITS label — l1 is
      // always a node id (labels start as ids and only copy node ids),
      // so the lookup join always hits
      val jumped = stepped
        .join(hinted(
            labels.select(col("id").as("jid"), col("label").as("jl"))),
          stepped("l1") === col("jid"), "left")
        .select(col("id"),
          least(col("l1"), coalesce(col("jl"), col("l1")))
            .as("new_label"), col("old_label"))
      // plan evidence hook: the converged final frame explains as a bare checkpoint read, so
      // the per-round join shape is only visible from inside the loop
      if (iter == 0 && sys.env.contains("SPARK_GRAFT_COMP_PLAN"))
        System.err.println(jumped.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val jumpedCp = jumped.localCheckpoint(true)
      converged = jumpedCp
        .filter(col("new_label") < col("old_label")).limit(1).count() == 0
      Checkpoints.release(prevCp)
      prevCp = jumpedCp
      labels = jumpedCp.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    // converged: every caller consumes only `labels` (the final round's
    // checkpoint) — the edge list's blocks are dead
    Checkpoints.release(edges)
    // an unconverged exit would silently return WRONG component labels
    // (some nodes not yet at their component minimum) — fail loudly
    require(converged,
      s"components: not converged after $maxIters rounds " +
        "(log-diameter exceeds the cap); raise maxIters")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy("doc_id")
  }

  /** Dedup-AWARE train/val/test split — the leakage-proof form of
    * [[graft.operators.TextAnalysis.datasetSplit]]: a naive per-doc
    * content-hash split places a document and its near-duplicate in
    * DIFFERENT splits whenever their (different) texts hash apart,
    * quietly leaking training data into eval. Here every near-dup
    * COMPONENT ([[dupGroups]]' closure over the banded MinHash pairs;
    * unpaired docs are their own singleton component) is assigned as a
    * unit: the split hash is taken over the CANONICAL member's text, so
    * by construction no component ever spans splits (spec-contrasted
    * against the naive split, which leaks on this corpus). Output: per
    * split, document and component counts.
    *
    * Scale shape: the components come from the banded pair graph (never
    * all-pairs); the assignment is one left join + one canonical-text
    * join + a hash — all equi-joins on doc ids.
    */
  def dedupAwareSplit(spark: SparkSession, sfDir: String,
                      threshold: Double = 0.5): DataFrame =
    dedupAwareAssignment(spark, sfDir, threshold)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_components"))
      .orderBy("split")

  /** The per-document (doc_id, canon, split) assignment behind
    * [[dedupAwareSplit]] — exposed so the spec can prove the leakage
    * contrast directly on the pair graph.
    */
  private[graft] def dedupAwareAssignment(spark: SparkSession,
                                          sfDir: String,
                                          threshold: Double): DataFrame = {
    val corpus = nearDupCorpus(spark, sfDir)
    val comps = dupGroups(spark, sfDir, threshold)
    val assigned = corpus.join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canon"))
    val canonText = corpus
      .select(col("doc_id").as("canon"), col("text").as("ctext"))
    val b = hash32(col("ctext")) % 10
    assigned.join(canonText, "canon")
      .withColumn("split",
        when(b < 8, lit("train")).when(b === 8, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("canon"), col("split"))
  }

  /** The final step of the incremental loop: fold the current batch's
    * materialized signatures into a NEW index version at `out` — a
    * MANIFEST referencing the corpus's immutable artifacts plus the
    * batch's own delta segments ([[IndexStore.writeManifest]]), so both
    * compute AND I/O are O(batch): the corpus signatures are never read,
    * copied or rewritten. Readers keep using the old `dir` until the
    * caller switches — version-swap atomicity by construction. Band keys
    * are re-derived from the batch's STORED hashes (no text is touched).
    * Typically the caller merges only non-duplicate batch docs
    * (`keepIds`); passing None merges the whole batch. The manifest is
    * written LAST and is the version's one commit marker; a re-invocation
    * on a committed `out` is a no-op (crash-replay safe).
    */
  def mergeBatchIntoIndex(spark: SparkSession, dir: String, out: String,
                          keepIds: Option[DataFrame] = None): Unit = {
    if (IndexStore.committed(s"$out/manifest")) return
    // gate on committed inputs — a crashed batch write must read as
    // "never written", per the store's contract, or the merged version
    // would commit an incomplete batch as truth
    Seq("shingles", "bands", "batch_shingles").foreach { d =>
      require(IndexStore.committed(s"$dir/$d"),
        s"$dir/$d is not a committed dataset — build/run the batch first")
    }
    val batch = IndexStore.readCached(spark, s"$dir/batch_shingles")
    val kept = keepIds.fold(batch)(ids =>
      batch.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
        "left_semi"))
    val shSeg = s"$out/shingles-delta"
    val bandSeg = s"$out/bands-delta"
    IndexStore.saveDataset(kept, shSeg)
    IndexStore.saveDataset(
      bandKeysFromHashes(kept.select(col("doc_id"), col("x"))), bandSeg)
    IndexStore.writeManifest(spark, out, Seq(
      ("shingles", s"$dir/shingles", 0L), ("shingles", shSeg, 1L),
      ("bands", s"$dir/bands", 0L), ("bands", bandSeg, 1L)))
  }

  /** (doc_a, doc_b, ni) + per-doc set sizes → thresholded Jaccard. */
  private[graft] def jaccardFromCounts(inter: DataFrame, sh: DataFrame,
                                       threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val na = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
    val nb = sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))
    inter.join(na, "doc_a").join(nb, "doc_b")
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup: 64-bit signature over distinct-token hashes, held
    * as 4×16-bit band columns (never one packed int64 — bit 63 is the
    * sign bit in both engines); verified by full-signature hamming
    * distance ≤ `maxHamming` (12 — the 32-bit-era threshold 6 scaled to
    * the doubled signature width).
    *
    * Two blocking modes, both pure equi-joins (an OR join condition would
    * plan as a nested loop), both built as DISJOINT-by-construction unions
    * so no candidate `distinct` shuffle exists:
    *
    *  - default (`pairedBands = false`): candidates share ANY one 16-bit
    *    band. Pigeonhole GUARANTEES a candidate for hamming ≤ 3 (4 bands,
    *    ≤ 3 dirty); beyond that it is a probabilistic recall knob like LSH
    *    banding (fixture: 452/500 injected pairs vs 428 for the old
    *    32-bit/2-half scheme). Candidate volume: unrelated docs collide on
    *    a 16-bit band with p = 2⁻¹⁶, so expected join-probe pairs are
    *    4·C(n,2)/2¹⁶ — at n = 10⁶ that is ~3×10⁷ (fine); at n = 10⁹ it is
    *    ~3×10¹³ streamed xor+popcount probes: compute-heavy and growing
    *    n², so this mode is for corpora ≤ ~10⁸ docs.
    *  - `pairedBands = true`: candidates share ANY 2 of the 4 bands — 6
    *    combined 32-bit keys (the block-permutation table scheme of Manku
    *    et al., WWW'07, at 4 blocks choose 2). Guarantee drops to
    *    hamming ≤ 2 (≤ 2 dirty bands leave 2 clean), recall beyond is the
    *    same probabilistic knob (fixture: 401/500), but per-table collision
    *    falls to 2⁻³²: expected probe pairs 6·C(n,2)/2³² ≈ 7×10⁸ at
    *    n = 10⁹ — the mode that survives a 100 TB corpus.
    *
    * The DEFAULT (`pairedBands = None`) auto-selects the blocking mode
    * from the corpus count — the same control-plane-count pattern as
    * [[AnnSearch.autoClusters]]: beyond [[PairedBandsAutoThreshold]] docs
    * the quadratic single-band candidate volume is the dominant cost, so
    * the safe-at-10⁹ paired mode is what you get WITHOUT reading this
    * scaladoc; below it the higher-recall single-band mode wins. Explicit
    * `Some(...)` pins a mode (the gate entries pin both so the oracles
    * are mode-stable regardless of fixture size).
    *
    * The oracle encodes the identical default blocking, so the gate checks
    * the operator as specified; paired-mode subset/recall is spec-asserted.
    */
  def simhashDedup(spark: SparkSession, sfDir: String,
                   pairedBands: Option[Boolean] = None,
                   maxHamming: Int = 12): DataFrame = {
    val paired = pairedBands.getOrElse(
      autoPairedBands(corpusCount(spark, sfDir)))
    val toks = nearDupCorpus(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .select(col("doc_id"), hash32(col("tok")).as("hlo"),
        hash32hi(col("tok")).as("hhi"))
    // All 64 bit-sums in ONE aggregation pass (literal shifts per column;
    // no 64× row blowup, no (doc, j) shuffle), then the 4 band columns
    // assembled column-wise. Same ±1 sums as the per-bit oracle form.
    val bitSums = toks.groupBy(col("doc_id")).agg(
      sum(shiftright(col("hlo"), 0) % 2 * 2 - 1).as("sj0"),
      (1 until 64).map { j =>
        val h = if (j < 32) shiftright(col("hlo"), j)
                else shiftright(col("hhi"), j - 32)
        sum(h % 2 * 2 - 1).as(s"sj$j")
      }: _*)
    // materialize the signature table ONCE: every block join consumes it
    // on BOTH sides, and without the lineage cut each of the 4 (or 6)
    // blocks would re-run the 64-column aggregation twice — measured 3×
    // the query cost at sf0.1 (same pattern as components()' edge list)
    val sig = bitSums.select(col("doc_id") +:
      (0 until 4).map { bnd =>
        (0 until 16).map(t =>
          when(col(s"sj${16 * bnd + t}") > 0, lit(1L << t)).otherwise(0L))
          .reduce(_ + _).as(s"b$bnd")
      }: _*).localCheckpoint(true)
    val a = sig.select(col("doc_id").as("doc_a") +:
      (0 until 4).map(i => col(s"b$i")): _*)
    val b = sig.select(col("doc_id").as("doc_b") +:
      (0 until 4).map(i => col(s"b$i").as(s"c$i")): _*)
    def eqb(i: Int) = col(s"b$i") === col(s"c$i")
    def neb(i: Int) = col(s"b$i") =!= col(s"c$i")
    val hamming = (0 until 4)
      .map(i => expr(s"bit_count(b$i ^ c$i)"))
      .reduce(_ + _).cast("long")
    def block(cond: org.apache.spark.sql.Column) =
      a.join(b, cond && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
        .filter(col("hamming") <= maxHamming)
    // Disjointness: each block is the lexicographically-FIRST matching
    // band (or band pair), enforced by requiring every earlier block's
    // bands to mismatch — the unionAll is exact with no distinct.
    val blocks =
      if (!paired)
        Seq(block(eqb(0)),
          block(eqb(1) && neb(0)),
          block(eqb(2) && neb(0) && neb(1)),
          block(eqb(3) && neb(0) && neb(1) && neb(2)))
      else
        Seq(block(eqb(0) && eqb(1)),
          block(eqb(0) && eqb(2) && neb(1)),
          block(eqb(0) && eqb(3) && neb(1) && neb(2)),
          block(eqb(1) && eqb(2) && neb(0)),
          block(eqb(1) && eqb(3) && neb(0) && neb(2)),
          block(eqb(2) && eqb(3) && neb(0) && neb(1)))
    blocks.reduce(_ unionAll _).orderBy("doc_a", "doc_b")
  }

  /** Eval-set decontamination: find training documents sharing ≥ minShared
    * distinct word n-grams with any eval document — the overlap check every
    * training pipeline runs before a benchmark is trusted. Every 10th doc
    * stands in for the eval set; output (train_doc, eval_doc, n_shared).
    *
    * Scale shape: both sides shingle narrowly, the overlap is ONE equi-join
    * on 48-bit hashed shingles + a count aggregate — shuffles carry 8-byte
    * keys and nothing is all-pairs. The join STRATEGY is left to AQE: real
    * eval suites are small and get runtime-broadcast anyway (verified in
    * the plan at fixture scale), but a hard broadcast() hint here would
    * force an 8 GiB+ eval shingle set onto the driver — the hint caps at
    * hope, AQE caps at spark.sql.autoBroadcastJoinThreshold.
    */
  def decontaminate(spark: SparkSession, sfDir: String, n: Int = 5,
                    minShared: Long = 3L): DataFrame = {
    val (train, eval) = contaminationSides(spark, sfDir, n)
    train.join(eval, col("h") === col("h2"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("train_doc", "eval_doc")
  }

  /** [[decontaminate]]'s train/eval shingle sides, shared with the
    * Bloom-prefiltered variant so the contamination semantics (every 10th
    * doc stands in for the eval suite, n-gram width, hash key) cannot
    * fork between the exact and the prefiltered path.
    */
  private def contaminationSides(spark: SparkSession, sfDir: String,
                                 n: Int): (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val train = shingleHashes(docs.filter(col("doc_id") % 10 =!= 0), n)
      .select(col("doc_id").as("train_doc"), col("h"))
    val eval = shingleHashes(docs.filter(col("doc_id") % 10 === 0), n)
      .select(col("doc_id").as("eval_doc"), col("h").as("h2"))
    (train, eval)
  }

  /** Bloom-prefiltered decontamination — byte-identical result to
    * [[decontaminate]] (the Bloom filter admits a superset of the true
    * matches, no false negatives; the exact equi-join then confirms), but
    * the train-side shingle stream is cut by a broadcast Bloom filter
    * built from the eval hashes BEFORE the join, so the shuffle carries
    * ≈fpp of the non-matching corpus instead of all of it. At 100 TB that
    * is the decontamination plan: the eval suite is the small side by
    * definition, its filter is O(eval) bits, and the membership test is
    * pure codegen — xxhash64 + bit arithmetic against a literal long
    * array, no UDF and no sketch object in the row path.
    *
    * The filter is built once from the distinct eval hashes, folded into
    * 64-bit words DISTRIBUTED-side: positions group by word index and
    * `bit_or` partial-aggregates map-side, so the driver collects at most
    * m/64 word rows — never a row per set bit (a 10⁹-key filter collects
    * its word array, not k·n positions). The word array rides the plan
    * as ONE complex-type literal — a serialized ArrayData reference, not
    * unrolled codegen constants, so generated-method size is flat in m;
    * for a multi-MB filter (eval suites past ~10⁶ distinct shingles at
    * 1% fpp) move the array behind `sparkContext.broadcast` so executors
    * fetch it once per node instead of once per task closure.
    */
  def bloomDecontaminate(spark: SparkSession, sfDir: String, nGram: Int = 5,
                         minShared: Long = 3L,
                         fpp: Double = 0.01): DataFrame = {
    val (train, rawEval) = contaminationSides(spark, sfDir, nGram)
    // the eval side feeds THREE consumers (count, bit-position collect,
    // confirm join) — cut the lineage once so tokenize + shingle + md5
    // run one time, not per consumer (the small side by definition)
    val eval = rawEval.localCheckpoint(true)
    val evalHashes = eval.select(col("h2")).distinct()
    val nKeys = math.max(1L, evalHashes.count())
    // standard sizing: m = -n·ln p / (ln 2)², k = (m/n)·ln 2 probes
    val ln2 = math.log(2.0)
    val mBits = {
      val raw = math.ceil(-nKeys * math.log(fpp) / (ln2 * ln2)).toLong
      math.max(64L, ((raw + 63) / 64) * 64)
    }
    val k = math.max(1, math.round(mBits.toDouble / nKeys * ln2).toInt)
    def bitPos(i: Int, h: Column): Column =
      pmod(xxhash64(lit(i), h), lit(mBits))
    val words = new Array[Long]((mBits / 64).toInt)
    evalHashes
      .select(explode(array((0 until k).map(i => bitPos(i, col("h2"))): _*))
        .as("p"))
      .select(expr("cast(p div 64 as int)").as("w"),
        expr("shiftleft(1L, cast(pmod(p, 64) as int))").as("mask"))
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    val wordsCol = typedLit(words.toSeq)
    // dynamic bit test without a dynamic shift (the DSL's shiftright takes
    // a static count): mask lookup from a 64-entry power-of-two literal
    val pow2 = typedLit((0 until 63).map(b => 1L << b) :+ Long.MinValue)
    val mightContain = (0 until k).map { i =>
      val p = bitPos(i, col("h"))
      element_at(wordsCol, floor(p / lit(64)).cast("int") + 1)
        .bitwiseAND(element_at(pow2, pmod(p, lit(64)).cast("int") + 1)) =!= 0L
    }.reduce(_ && _)
    train.filter(mightContain)
      .join(eval, col("h") === col("h2"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("train_doc", "eval_doc")
  }

  /** n-gram Jaccard dedup without LSH: blocking equi-join on shared
    * shingles generates candidates, then exact Jaccard ≥ threshold.
    * Reads the persisted shingle table (shared with [[minhashDedup]]).
    *
    * Plan-shape note (measured, round 12): the single equi-join +
    * direct aggregation IS the Spark-optimal exact strategy at this
    * threshold. The published exact alternative — prefix filtering
    * (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07; Xiao et al.
    * WWW'08 PPJoin: rarity-order shingles, join only each doc's
    * `|d| − ⌈t·|d|⌉ + 1` prefix) — was implemented and measured: at
    * t = 0.4 the prefix retains 60% of every document, cuts candidate
    * pairs only 2.5× (4.4M → 1.7M at sf0.1), and the candidate-driven
    * verification re-join (1.7M pairs × full shingle lists) costs far
    * more than the one-pass aggregate it replaces — 14 s vs 2 s at 1×,
    * 208 s vs ~58 s at the ladder's blown-up corpus. Prefix filtering
    * pays at HIGH thresholds (t ≥ 0.8 keeps ~20%), not at this
    * operator's 0.4 with near-uniform document lengths (the size
    * filter prunes nothing). The lossy constant-cutter at corpus scale
    * is [[minhashDedup]] — banded candidates, same exact-verify tail —
    * which is the entry a 100 TB pipeline runs; this operator is the
    * exact baseline, linear by design (SCALING.md exponent ~0.9: the
    * hashed-shingle equi-join is the data-proportional work).
    */
  def jaccardDupes(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.4): DataFrame = {
    val hsh = injectedShingleTable(spark, sfDir)
      .select(col("doc_id"), col("h"))
    val s1 = hsh.select(col("doc_id").as("doc_a"), col("h"))
    val s2 = hsh.select(col("doc_id").as("doc_b"), col("h").as("h2"))
    // One equi-join on the hashed shingle + direct aggregation gives the
    // intersection counts — no candidate materialization / re-join pass.
    val inter = s1.join(s2,
        col("h") === col("h2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    jaccardFromCounts(inter, hsh, threshold)
  }

  /** Exact substring-run detection (the contiguous-overlap dedup of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, public) — find document pairs sharing a VERBATIM run of ≥
    * `minRunTokens` tokens, the signal set-overlap measures (Jaccard,
    * MinHash) cannot see: a long quote inside otherwise-different
    * documents. Positional n-gram shingles matched across docs land on a
    * constant diagonal (pos_a − pos_b); consecutive positions on one
    * diagonal are grouped into islands with the classic
    * pos − row_number() trick, and an island of s shingles is a verbatim
    * run of s + n − 1 tokens.
    *
    * Scale shape: the candidate generator is the same 8-byte hashed
    * shingle equi-join as [[jaccardDupes]] — never all-pairs — and the
    * `maxShingleFreq` cap drops boilerplate shingles (the paper's
    * stop-gram guard) BEFORE the join, bounding any hot key's fan-out;
    * the island windows partition per (pair, diagonal), so their state is
    * one pair's overlap, not the corpus. The default cap (0 = auto) is
    * DERIVED from the cached corpus count ([[autoShingleFreq]]), so the
    * pruned fraction — the operator's effective semantics — doesn't
    * drift as the corpus grows; gate entries pin an explicit cap so
    * their oracle stays fixed.
    */
  def substringRuns(spark: SparkSession, sfDir: String, n: Int = 5,
                    minRunTokens: Long = 20L,
                    maxShingleFreq: Long = 0L): DataFrame =
    substringRunsOver(nearDupCorpus(spark, sfDir), n, minRunTokens,
      if (maxShingleFreq > 0) maxShingleFreq
      else autoShingleFreq(corpusCount(spark, sfDir)))

  /** Hot-shingle cap auto-sizing (the [[autoPairedBands]] pattern): a
    * shingle is boilerplate when it recurs across ≳2% of the corpus
    * (n/50), so the cap scales WITH the corpus — a fixed constant prunes
    * an ever-larger fraction of genuinely quotable shingles as n grows
    * past 50·cap docs and silently weakens the operator. The 1000 floor
    * preserves the measured fixture operating point (≤50k-doc corpora
    * see exactly the old constant) and keeps join fan-out bounded at
    * ~cap² rows per hot key.
    */
  private[graft] def autoShingleFreq(n: Long): Long =
    math.max(1000L, n / 50L)

  /** Positional n-gram shingles — (doc_id, pos, sh) with pos 0-based over
    * the raw split. THE one positional-shingle construction, shared by
    * [[substringRunsOver]] and [[TextSearch.phraseSearch]] so the window
    * arithmetic (and any future tail/empty-token fix) cannot fork.
    */
  private[graft] def positionalShingles(corpus: DataFrame,
                                        n: Int): DataFrame = {
    val l = split(col("text"), " ")
    corpus
      .select(col("doc_id"), posexplode(
        when(size(l) >= n,
          transform(sequence(lit(1), size(l) - (n - 1)),
            k => concat_ws(" ", slice(l, k, lit(n)))))
          .otherwise(array().cast("array<string>"))))
      .toDF("doc_id", "pos", "sh")
  }

  /** [[positionalShingles]] with HASHED shingles — the same window
    * arithmetic (sequence(1, size − (n−1)), 0-based pos via posexplode)
    * over the same raw split, emitting the [[shingleHashes]] token-hash
    * combine instead of the concat_ws string. For consumers that need
    * only shingle EQUALITY at a position ([[substringRunsOver]];
    * [[TextSearch.phraseSearch]] inlines the same combine plus its
    * empty-window validity bit). Any window-arithmetic fix must land in
    * all three.
    */
  private[graft] def positionalShingleHashes(corpus: DataFrame,
                                             n: Int): DataFrame =
    corpus
      .select(col("doc_id"),
        transform(split(col("text"), " "), x => xxhash64(x)).as("hs"))
      .select(col("doc_id"), posexplode(
        when(size(col("hs")) >= n,
          transform(sequence(lit(1), size(col("hs")) - (n - 1)),
            k => aggregate(slice(col("hs"), k, lit(n)), lit(0L),
              (acc, x) => xxhash64(acc, x))))
          .otherwise(array().cast("array<bigint>"))))
      .toDF("doc_id", "pos", "h")

  /** [[substringRuns]] over an arbitrary (doc_id, text) corpus —
    * `private[graft]` so property tests can cross-check the
    * diagonal-island result against brute-force longest-common-run DP on
    * generated documents.
    */
  private[graft] def substringRunsOver(corpus: DataFrame, n: Int,
                                       minRunTokens: Long,
                                       maxShingleFreq: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // hashed positional shingles (the [[shingleHashes]] rationale: the
    // oracle joins raw shingle strings, so the key exists only for
    // equality — and building + md5-ing the concat_ws strings was the
    // operator's single hottest expression, ~3.5× this combine)
    val sh = positionalShingleHashes(corpus, n)
    val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > maxShingleFreq).select(col("h"))
    // the capped shingle table feeds BOTH sides of the self-join — cut
    // the lineage once (the simhash signature-table pattern) so tokenize
    // + hash + cap run one time, not per side
    val cold = sh.join(hot, Seq("h"), "left_anti").localCheckpoint(true)
    val a = cold.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
      col("h"))
    val b = cold.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      col("h").as("h2"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    a.join(b, col("h") === col("h2") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("len")) + (n - 1)).as("run_tokens"),
        count(lit(1)).as("n_runs"))
      .filter(col("run_tokens") >= minRunTokens)
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup: corpus = embeddings plus offset copies
    * (v + 0.01 per element, id + 10000; cos ≈ 0.9999 to the original while
    * natural pairs stay ≤ ~0.52). Exact all-pairs at fixture scale; the
    * pruned path is [[AnnSearch]].
    */
  def embedNearDup(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.9): DataFrame = {
    val normed = embedCorpus(spark, sfDir)
    val a = normed.select(col("vec_id").as("id_a"), col("u").as("ua"))
    val b = normed.select(col("vec_id").as("id_b"), col("u").as("ub"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Normalized injected embedding corpus shared by the exact and pruned
    * near-dup operators (`private[graft]` so specs can wire alternative
    * centroid sets through [[semanticDedupOver]]).
    */
  private[graft] def embedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val corpus = emb.unionAll(emb.select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("v"), x => x + lit(0.01)).as("v")))
    corpus.select(col("vec_id"), l2Normalize(col("v")).as("u"))
  }

  /** The SRP band-signature construction — 64 seeded Gaussian
    * hyperplane signs packed into `nBands` keys, as an explodable
    * struct-array column over a normalized vector column. THE one SRP
    * construction, shared by the within-corpus pruned near-dup and the
    * cross-set semantic decontamination so their blocking can never
    * drift.
    */
  private def srpBandStructs(dim: Int, nBands: Int, bandBits: Int,
                             u: org.apache.spark.sql.Column) = {
    val rng = new scala.util.Random(0x5eedL)
    val planes = Array.fill(nBands * bandBits, dim)(rng.nextGaussian())
    (0 until nBands).map { bnd =>
      val key = (0 until bandBits).map { j =>
        val r = array(planes(bnd * bandBits + j).toIndexedSeq.map(lit): _*)
        when(dot(u, r) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(bnd.toLong).as("band"), key.as("key"))
    }
  }

  /** Persist the SRP band signatures of a committed normalized-vector
    * store (`dir/vectors`, column `u`) at `dir/sigs` — the second half
    * of every SRP store build, shared so the persisted (vec_id, band,
    * key) schema cannot fork between stores either.
    */
  private def persistSrpSigs(spark: SparkSession, dir: String, dim: Int,
                             nBands: Int, bandBits: Int): Unit = {
    val bandCols = srpBandStructs(dim, nBands, bandBits, col("u"))
    IndexStore.saveDataset(
      IndexStore.readCached(spark, s"$dir/vectors")
        .select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("vec_id"), col("bk.band").as("band"),
          col("bk.key").as("key")),
      s"$dir/sigs")
  }

  private def embeddingDim(spark: SparkSession, sfDir: String): Int =
    Tables.load(spark, sfDir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)

  /** Embedding near-dup with signed-random-projection blocking — the scale
    * path [[embedNearDup]]'s scaladoc points at, wired as a dedup operator:
    *
    *  - 64 SRP bits per vector (sign of dot with a fixed seeded Gaussian
    *    hyperplane — 64 codegen'd [[graft.functions.ArrayDot]]s, one narrow
    *    pass, no shuffle),
    *  - candidates = pairs agreeing on ANY 8-bit band: 8 equi-joins on
    *    (band, key) via one explode + self-join + distinct — never an
    *    all-pairs product,
    *  - exact cosine verification on candidates only, so precision is
    *    exact; recall is the LSH knob: the fixture's injected dupes sit at
    *    cos ≈ 0.9968 (θ/π ≈ 0.0255 flip probability per bit), giving
    *    P(miss) = (1−(1−θ/π)^8)^8 ≈ 1.5e-6 per pair, while a random pair
    *    (cos ≈ 0) survives blocking with P ≈ 1−(1−2^-8)^8 ≈ 3% — the
    *    ~30× candidate reduction that replaces O(n²) at 100 TB.
    *
    * Deterministic (fixed seed + fixed plan) — same pairs every run; on the
    * fixture it recovers the exact [[embedNearDup]] result (oracle-checked).
    */
  def embedNearDupPruned(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.9, nBands: Int = 8,
                         bandBits: Int = 8): DataFrame = {
    // Load-or-build the SRP index (same store pattern as IVF/dedup): the
    // normalized corpus and its band signatures persist per data version,
    // so queries are pure equi-joins over stored tables — the 64 dots per
    // vector run once per corpus, not twice per query.
    val dir = IndexStore.indexDir(sfDir, s"embsrp$nBands-$bandBits-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/vectors") ||
        !IndexStore.committed(s"$dir/sigs")) {
      IndexStore.saveDataset(embedCorpus(spark, sfDir), s"$dir/vectors")
      persistSrpSigs(spark, dir, embeddingDim(spark, sfDir), nBands,
        bandBits)
    }
    val normed = IndexStore.readCached(spark, s"$dir/vectors")
    val slim = IndexStore.readCached(spark, s"$dir/sigs")
    val cand = slim.select(col("vec_id").as("id_a"), col("band"), col("key"))
      .join(slim.select(col("vec_id").as("id_b"), col("band").as("b2"),
          col("key").as("k2")),
        col("band") === col("b2") && col("key") === col("k2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val ua = normed.select(col("vec_id").as("id_a"), col("u").as("ua"))
    val ub = normed.select(col("vec_id").as("id_b"), col("u").as("ub"))
    cand.join(ua, "id_a").join(ub, "id_b")
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** SEMANTIC decontamination — the embedding-space third leg of the
    * decontamination family (exact n-gram [[decontaminate]], its Bloom-
    * prefiltered scale twin [[bloomDecontaminate]], and now "same
    * content, different tokens": an eval item whose EMBEDDING is
    * near-identical to a training vector is contamination a token-
    * overlap check cannot see — paraphrases, re-encodes, format shifts).
    *
    * Shape: the TRAIN side persists normalized vectors + SRP band
    * signatures once per data version (the [[embedNearDupPruned]] store
    * pattern, built through the SAME [[srpBandStructs]] construction);
    * the EVAL side — the small set by definition — computes its
    * signatures inline per run. Candidates are band equi-join matches
    * (never train×eval all-pairs), verified by exact cosine ≥
    * `threshold`. At 100 TB the train side is the 10¹⁰-vector store and
    * the probe stays O(|eval| · collisions).
    *
    * Eval fixture (deterministic, oracle-mirrored): the first 50
    * training vectors perturbed +0.002 per element (cos ≈ 0.9999 —
    * CONTAMINATED, ids + 30000) plus the same 50 rotated one position
    * (decorrelated — clean, ids + 40000). The oracle brute-forces the
    * full train×eval cosine matrix, so a blocked-out true pair or a
    * phantom candidate both flip the gate red.
    */
  def semanticDecontaminate(spark: SparkSession, sfDir: String,
                            threshold: Double = 0.9, nBands: Int = 8,
                            bandBits: Int = 8): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    // train side: load-or-build normalized vectors + signatures over the
    // BASE corpus (not the dedup-injected one)
    val dir = IndexStore.indexDir(sfDir, s"srpdecon$nBands-$bandBits-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/vectors") ||
        !IndexStore.committed(s"$dir/sigs")) {
      IndexStore.saveDataset(
        Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"),
            l2Normalize(transform(col("embedding"),
              x => x.cast("double"))).as("u")),
        s"$dir/vectors")
      persistSrpSigs(spark, dir, dim, nBands, bandBits)
    }
    // eval side: fixture batch, normalized + signed inline (one pass)
    val base = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val eval = base
      .select((col("vec_id") + 30000).as("eval_id"),
        l2Normalize(transform(col("v"), x => x + lit(0.002))).as("ue"))
      .unionAll(base.select((col("vec_id") + 40000).as("eval_id"),
        l2Normalize(concat(slice(col("v"), 2, dim - 1),
          slice(col("v"), 1, 1))).as("ue")))
    val evalBands = srpBandStructs(dim, nBands, bandBits, col("ue"))
    val evalSigs = eval
      .select(col("eval_id"), col("ue"),
        explode(array(evalBands: _*)).as("bk"))
      .select(col("eval_id"), col("ue"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cand = evalSigs
      .join(IndexStore.readCached(spark, s"$dir/sigs"), Seq("band", "key"))
      .select(col("eval_id"), col("ue"), col("vec_id")).distinct()
    cand.join(IndexStore.readCached(spark, s"$dir/vectors"), "vec_id")
      .withColumn("cos", dot(col("u"), col("ue")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("train_id"), col("eval_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("train_id", "eval_id")
  }

  /** SemDeDup — semantic (embedding-space) deduplication by
    * cluster-then-prune (Abbas et al. 2023, arXiv:2303.09540): assign every
    * vector to one cluster, compute pairwise cosine WITHIN clusters only,
    * and drop every member with a higher-priority (lower-id) cluster-mate
    * at or above the similarity threshold. The cluster step is the scale
    * mechanism: K clusters cut candidate pairs from C(n,2) to
    * Σ_k C(n_k,2) ≈ n²/(2K) — K = √n bounds total pair work at n^1.5,
    * spread across K independent per-cluster self-joins, and the join is
    * an equi-join on the cluster id, so no all-pairs product ever
    * materializes (vs [[embedNearDup]]'s declared all-pairs and
    * [[embedNearDupPruned]]'s SRP blocking — SemDeDup trades their
    * near-exact recall for a candidate set that also captures "same
    * meaning, different tokens" pairs sharing a centroid).
    *
    * The gate entry uses the first ⌊√n⌋ corpus vectors as deterministic
    * seed centroids so the DuckDB oracle reproduces the assignment
    * bit-for-bit (k-means is not SQL-recomputable; argmax-cosine over a
    * fixed seed set is). Production wires real centroids through
    * [[semanticDedupOver]] — DedupSpec runs it over per-label mean
    * centroids and recovers the injected pairs either way.
    */
  def semanticDedup(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.9): DataFrame = {
    val corpus = embedCorpus(spark, sfDir)
    // control-plane count (like AnnSearch's √n auto-sizing): K = ⌊√(2n)⌋
    val k = math.floor(math.sqrt(
      Tables.load(spark, sfDir, "embeddings").count() * 2.0)).toLong
    val seeds = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("u").as("c"))
    semanticDedupOver(corpus, seeds, threshold)
  }

  /** Corpus/centroid-agnostic SemDeDup core: `corpus` = (vec_id, u) unit
    * vectors, `centroids` = (cluster, c) — any deterministic centroid set
    * (seed rows for the oracle gate, k-means/label means in production).
    * Assignment = argmax cosine, ties to the lowest cluster id; the
    * centroid side is broadcast (K ≪ n by construction).
    */
  def semanticDedupOver(corpus: DataFrame, centroids: DataFrame,
                        threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wa = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc_nulls_last, col("cluster"))
    val assigned = corpus.crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("u"), col("c")))
      .withColumn("rn", row_number().over(wa))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("u"))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("u").as("ua"))
    val b = assigned.select(col("cluster").as("cl2"),
      col("vec_id").as("id_b"), col("u").as("ub"))
    // keep-lowest-id verdict: each dropped doc reports its smallest
    // qualifying cluster-mate, so the survivor set is exactly the docs
    // with no lower-id semantic twin
    val wb = Window.partitionBy("id_b").orderBy("id_a")
    a.join(b, col("cluster") === col("cl2") && col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") >= threshold)
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") === 1)
      .select(col("id_b").as("vec_id"), col("cluster"),
        col("id_a").as("dup_of"), round(col("cos"), 6).as("cosine"))
      .orderBy("vec_id")
  }
}
