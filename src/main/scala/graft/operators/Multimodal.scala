package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.IndexStore

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * decoded in partition-sized batches — the reference ingests image bytes
  * exactly this way (`main.py:105-110` reads the upload into `bytes`
  * before embedding/OCR, `main.py:77` decodes them with PIL).
  *
  * The decode is REAL: payloads are PNG files and [[decodeOne]] parses
  * them with `javax.imageio.ImageIO` (the JVM's PIL). The testdata has no
  * image column, so the FIXTURE side synthesizes one deterministic PNG
  * per document — a filmstrip of `n_frames` equal-height frames whose
  * geometry and pixel values are pure doc_id arithmetic ([[imgWidth]] /
  * [[frameHeight]] / [[nFrames]] / [[pixel]]). That makes the decode
  * oracle-checkable end to end: the DuckDB oracle recomputes the expected
  * dimensions and 4×4 pixel-grid checksums from the same arithmetic, so
  * the entries only match if ImageIO genuinely recovered the encoded
  * pixels. A real deployment swaps [[mediaTable]] for
  * `spark.read.format("binaryFile")` (same `content: binary` column) and
  * keeps every stage downstream of it unchanged.
  *
  * Spark-side shape (the part that must survive 100 TB):
  *  - payloads as `BinaryType` + a typed metadata struct alongside,
  *  - decode as an iterator-to-iterator `mapPartitions` over a typed
  *    Dataset (the JVM analog of `mapInPandas` batches: one partition =
  *    one batch, constant memory, no driver collect),
  *  - explicit byte-targeted repartitioning before decode so batch
  *    DECODED-pixel memory is controlled.
  */
object Multimodal {

  // ImageIO defaults to spooling every ImageInputStream through a temp
  // FILE on disk — a per-image disk round-trip that dwarfs the decode of
  // a small in-memory payload. Payloads here are already byte arrays;
  // decode them in memory. NOTE for embedders: this flag is JVM-GLOBAL
  // ImageIO state, set as a classload side effect on driver and
  // executors — any other ImageIO user in the same JVM loses temp-file
  // spooling too (harmless for byte-array decodes, but a surprise if
  // your code feeds ImageIO multi-GB streams it expected to spool).
  ImageIO.setUseCache(false)

  case class MediaRow(doc_id: Long, content: Array[Byte], frame_h: Int)
  // package-private, not `private`: scalac omits a private case class's
  // InnerClasses entry, and Janino then cannot resolve the accessors
  // that whole-stage codegen calls on it
  private[operators] case class BuiltRow(doc_id: Long, content: Array[Byte],
                                         frame_h: Int, decoded_bytes: Long)
  case class Decoded(doc_id: Long, width: Long, height: Long,
                     n_frames: Long, frame_checksums: Seq[Long])
  case class Featurized(doc_id: Long, width: Long, height: Long,
                        out_w: Long, out_h: Long, features: Seq[Long])

  /** Fixture geometry — pure doc_id arithmetic, mirrored verbatim by the
    * DuckDB oracle. Frames are [16, 64] px a side so the whole sf0.1
    * fixture stays a few MB decoded.
    */
  private[graft] def imgWidth(docId: Long): Int =
    (16 + (docId * 7) % 49).toInt
  private[graft] def frameHeight(docId: Long): Int =
    (16 + (docId * 13) % 49).toInt
  private[graft] def nFrames(docId: Long): Int = (1 + docId % 4).toInt

  /** Decoded size of one document's filmstrip: 3 bytes/px over the full
    * strip. The SINGLE source of truth for decoded-size arithmetic — the
    * persisted fixture stores this per row, and batch sizing reads the
    * stored column, so the geometry helpers can change without desyncing
    * batch sizing.
    */
  private[graft] def decodedBytes(docId: Long): Long =
    3L * imgWidth(docId) * frameHeight(docId) * nFrames(docId)

  /** Packed RGB at (x, y) of document `docId`'s filmstrip (y is absolute
    * within the strip, so every frame's pixels differ).
    */
  private[graft] def pixel(docId: Long, x: Int, y: Int): Int = {
    val r = ((x * 31L + y * 17L + docId * 11L) % 256L).toInt
    val g = ((x * 13L + y * 29L + docId * 7L) % 256L).toInt
    val b = ((x * 7L + y * 11L + docId * 3L) % 256L).toInt
    (r << 16) | (g << 8) | b
  }

  /** Fixture encoder: one real PNG per document (frames stacked
    * vertically — a filmstrip, the still-image shape of a video column).
    * PNG is lossless, so the decoder must recover [[pixel]] exactly.
    */
  private[graft] def encodeOne(docId: Long): Array[Byte] = {
    val w = imgWidth(docId)
    val h = frameHeight(docId) * nFrames(docId)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(docId, x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 4×4 sampled-grid checksum of one frame strip: Σ of the packed RGB at
    * x_i = ⌊i(w−1)/3⌋, y_j = yOff + ⌊j(h−1)/3⌋ — integer positions, so
    * any engine agrees; reading DECODED pixels, so a header-only "decode"
    * cannot fake it. Bounded: 16 · 0xFFFFFF < 2³².
    */
  private def gridChecksum(img: BufferedImage, yOff: Int, h: Int): Long = {
    val w = img.getWidth
    var sum = 0L
    var i = 0
    while (i < 4) {
      val x = i * (w - 1) / 3
      var j = 0
      while (j < 4) {
        sum += (img.getRGB(x, yOff + j * (h - 1) / 3) & 0xffffff).toLong
        j += 1
      }
      i += 1
    }
    sum
  }

  /** The REAL decoder: ImageIO parses the PNG bytes; dimensions and frame
    * count come from the decoded image (frame height from the row's typed
    * metadata), checksums from decoded pixels. Fails loudly on an
    * undecodable payload — silently skipping corrupt media would
    * undercount a 100 TB ingest with no signal.
    */
  private[graft] def decodeOne(r: MediaRow): Decoded = {
    val img = ImageIO.read(new ByteArrayInputStream(r.content))
    require(img != null, s"undecodable media payload for doc ${r.doc_id}")
    val nf = img.getHeight / r.frame_h
    val checks = (0 until nf)
      .map(f => gridChecksum(img, f * r.frame_h, r.frame_h))
    Decoded(r.doc_id, img.getWidth.toLong, img.getHeight.toLong,
      nf.toLong, checks)
  }

  /** One-time fixture build: binary payload + typed metadata per document
    * ([[encodeOne]] per doc_id, one map pass). `frame_h` rides in the
    * metadata — the decoder needs it to split the filmstrip — and
    * `decoded_bytes` records the post-decode footprint batch sizing needs
    * (a real ingest gets the same figure from probe stats at write time).
    */
  private[graft] def buildMediaTable(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => BuiltRow(id, encodeOne(id),
        frameHeight(id), decodedBytes(id))))
      .toDF()
      .select(col("doc_id"), col("content"),
        struct(lit("image/png").as("format"),
          length(col("content")).cast("long").as("n_bytes"),
          col("frame_h"), col("decoded_bytes")).as("meta"))
  }

  /** Binary payload + typed metadata struct for every document — the
    * "typed metadata next to the opaque payload" contract. The synthesized
    * fixture is PERSISTED once per (fixture dir, data fingerprint) behind
    * [[IndexStore.committed]] — the same load-or-build pattern as the
    * dedup shingle store — so queries (and the bench) time the DECODE
    * stage the operator exists for, never the fixture's PNG encode. A real
    * deployment swaps this loader for
    * `spark.read.format("binaryFile")` and keeps everything downstream.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = IndexStore.indexDir(sfDir, "media-fixture-v1", "documents")
    if (!IndexStore.committed(s"$dir/media"))
      IndexStore.saveDataset(buildMediaTable(spark, sfDir), s"$dir/media")
    IndexStore.readCached(spark, s"$dir/media")
  }

  /** The decode stage proper (unordered): one mapPartitions pass over the
    * controlled batches — shared by [[decode]] and [[frameSample]] so both
    * consume the identical stage.
    */
  private def decoded(spark: SparkSession, sfDir: String,
                      targetBatchBytes: Long): DataFrame = {
    import spark.implicits._
    mediaBatches(spark, sfDir, targetBatchBytes)
      .mapPartitions(_.map(decodeOne)).toDF()
  }

  /** Batched decode: byte-targeted repartition (controls batch size at
    * scale) then one mapPartitions pass. Output is flat columns + an
    * array column — the schema a feature-extraction stage would consume.
    */
  def decode(spark: SparkSession, sfDir: String,
             targetBatchBytes: Long = DefaultBatchBytes): DataFrame =
    decoded(spark, sfDir, targetBatchBytes).orderBy("doc_id")

  /** Resize + feature-extract stage over decoded media: aspect-preserving
    * fit into 256×256 (integer arithmetic — exact in any engine) and a
    * 4-value feature vector — the per-grid-column pixel sums of the
    * decoded image (the deterministic stand-in for a pooled CNN
    * embedding; a real extractor replaces only the `feats` expression).
    */
  private[graft] def featurizeOne(r: MediaRow): Featurized = {
    val img = ImageIO.read(new ByteArrayInputStream(r.content))
    require(img != null, s"undecodable media payload for doc ${r.doc_id}")
    val w = img.getWidth
    val h = img.getHeight
    val m = math.max(w, h)
    val feats = (0 until 4).map { i =>
      val x = i * (w - 1) / 3
      (0 until 4).map { j =>
        (img.getRGB(x, j * (h - 1) / 3) & 0xffffff).toLong
      }.sum
    }
    Featurized(r.doc_id, w.toLong, h.toLong, w * 256L / m, h * 256L / m,
      feats)
  }

  /** Decode batches are sized by DECODED PIXEL BYTES, not row count:
    * media rows vary by orders of magnitude (a thumbnail vs a video), and
    * decoded frames are what actually occupy executor memory — encoded
    * size under-counts by the compression ratio. Default 32 MiB decoded
    * per batch inside a multi-GiB executor; callers override per
    * modality, and deployments tune the default via
    * `SPARK_GRAFT_MM_BATCH_BYTES` (also how the scaling harness shows
    * the per-byte cost is batch-packing-independent).
    */
  val DefaultBatchBytes: Long =
    sys.env.get("SPARK_GRAFT_MM_BATCH_BYTES").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)

  /** Partition count for `totalBytes` of payload at `targetBatchBytes`
    * per batch — ⌈total/target⌉ clamped to [1, 1 << 20].
    */
  private[graft] def batchCount(totalBytes: Long,
                                targetBatchBytes: Long): Int = {
    require(targetBatchBytes > 0, s"targetBatchBytes=$targetBatchBytes")
    math.max(1L, math.min(1L << 20,
      (totalBytes + targetBatchBytes - 1) / targetBatchBytes)).toInt
  }

  /** Decoded-size estimate of a persisted fixture: Σ of the stored
    * per-row `meta.decoded_bytes` — one cheap single-column aggregate
    * over the committed table (at 100 TB the same figure comes from
    * table statistics). Reading the stored column keeps exactly one copy
    * of each modality's size arithmetic ([[decodedBytes]] /
    * 2·n_samples, pinned by spec). ONE cache for every modality, keyed
    * `<modality>#<fixture dir>` per `documents` fingerprint (both media
    * fixtures derive from it), so query CONSTRUCTION never re-runs the
    * aggregate.
    */
  private def cachedDecodedBytes(sfDir: String, modality: String,
                                 table: => DataFrame): Long =
    IndexStore.cached("payloadBytes", s"$modality#$sfDir",
      IndexStore.FromSource(sfDir, Seq("documents")))(
      table.agg(coalesce(sum(col("meta.decoded_bytes")), lit(0L)))
        .head.getLong(0))

  private[graft] def estimatedPayloadBytes(spark: SparkSession,
                                           sfDir: String): Long =
    cachedDecodedBytes(sfDir, "img", mediaTable(spark, sfDir))

  /** The audio fixture's total decoded bytes — the `audio#<dir>` entry of
    * the same cache, exposed so byte-per-modality reporting (the scaling
    * tier) attributes the audio row to the audio cache, not the image's.
    */
  private[graft] def audioPayloadBytes(spark: SparkSession,
                                       sfDir: String): Long =
    cachedDecodedBytes(sfDir, "audio", audioTable(spark, sfDir))

  /** The shared batch shape for decode-style stages: payload column +
    * the metadata the decoder needs, byte-targeted repartitioning
    * (= batch sizing at scale), typed rows. The byte target is an UPPER
    * bound on decoded bytes per batch; partition count is floored at the
    * cluster's default parallelism so a corpus that decodes under one
    * batch still fans the (CPU-bound) decode across every core — more
    * partitions only shrink batches, never violate the byte target.
    */
  private[graft] def mediaBatches(spark: SparkSession, sfDir: String,
                                  targetBatchBytes: Long) = {
    import spark.implicits._
    val media = mediaTable(spark, sfDir)
      .select(col("doc_id"), col("content"),
        col("meta.frame_h").as("frame_h"))
    val totalBytes = estimatedPayloadBytes(spark, sfDir)
    val n = math.max(batchCount(totalBytes, targetBatchBytes),
      spark.sparkContext.defaultParallelism)
    media.repartition(n, col("doc_id")).as[MediaRow]
  }

  def featurize(spark: SparkSession, sfDir: String,
                targetBatchBytes: Long = DefaultBatchBytes): DataFrame = {
    import spark.implicits._
    mediaBatches(spark, sfDir, targetBatchBytes)
      .mapPartitions(_.map(featurizeOne)).toDF()
      .orderBy("doc_id")
  }

  /** Frame-sampling stage over decoded media: explode per-frame checksums
    * into per-frame rows (the shape a frame-level feature extractor
    * consumes — one row per sampled video frame), keep every 2nd frame,
    * aggregate back per document. At scale this is the fan-out point
    * between decode and per-frame inference: a narrow explode, no shuffle
    * until the per-doc re-aggregation.
    */
  def frameSample(spark: SparkSession, sfDir: String,
                  targetBatchBytes: Long = DefaultBatchBytes): DataFrame = {
    decoded(spark, sfDir, targetBatchBytes)
      .select(col("doc_id"),
        posexplode(col("frame_checksums")).as(Seq("pos", "fh")))
      .filter(col("pos") % 2 === 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"), min(col("fh")).as("min_hash"),
        max(col("fh")).as("max_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // AUDIO modality: PCM s16le payloads (the second of the mission's
  // image/audio/video trio; the filmstrip above covers image+video).
  // ------------------------------------------------------------------

  case class AudioRow(doc_id: Long, content: Array[Byte])
  case class AudioWindow(doc_id: Long, window: Long, n_samples: Long,
                         min_s: Long, max_s: Long, sum_abs: Long,
                         energy: Long)

  /** Per-frame analysis window: 512 samples (32 ms at the fixture's
    * 16 kHz) — the hop size a frame-level audio featurizer consumes.
    */
  val AudioWindowSamples: Int = 512

  /** Audio fixture arithmetic — pure (doc_id, t) functions, mirrored
    * verbatim by the DuckDB oracle (both operands non-negative, so `%`
    * agrees across engines).
    */
  private[graft] def audioSamples(docId: Long): Int =
    (2048 + (docId * 5) % 1024).toInt
  private[graft] def audioSample(docId: Long, t: Int): Short =
    ((docId * 11 + t * 31L) % 65536L - 32768L).toShort

  /** Fixture encoder: one REAL PCM s16le clip per document —
    * little-endian int16 samples, the rawest audio wire format (what
    * `ffmpeg -f s16le` emits). Lossless, so the decoder must recover
    * [[audioSample]] exactly.
    */
  private[graft] def encodeAudioOne(docId: Long): Array[Byte] = {
    val n = audioSamples(docId)
    val buf = java.nio.ByteBuffer.allocate(2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var t = 0
    while (t < n) { buf.putShort(audioSample(docId, t)); t += 1 }
    buf.array()
  }

  /** The REAL audio decode + frame featurize, FUSED: parse the payload's
    * little-endian int16 samples and fold each [[AudioWindowSamples]]
    * window to (n, min, max, Σ|s|, Σs²) — the integer-exact skeleton of
    * an RMS-energy/peak frame feature — in ONE imperative pass. No
    * per-sample explode ever hits the plan: a 100 TB corpus at 16 kHz is
    * ~10¹³ sample rows if exploded, vs ~10¹⁰ window rows emitted here.
    * Fails loudly on a torn payload (odd byte count), same contract as
    * the image decoder.
    */
  private[graft] def decodeAudioOne(r: AudioRow): Seq[AudioWindow] = {
    require(r.content.length % 2 == 0,
      s"torn PCM16 payload for doc ${r.doc_id}: ${r.content.length} bytes")
    val sb = java.nio.ByteBuffer.wrap(r.content)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val n = sb.limit()
    val out = Seq.newBuilder[AudioWindow]
    var w = 0
    var t = 0
    while (t < n) {
      val start = t
      val end = math.min(n, start + AudioWindowSamples)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var sa = 0L
      var en = 0L
      while (t < end) {
        val s = sb.get(t).toLong
        if (s < mn) mn = s
        if (s > mx) mx = s
        sa += math.abs(s)
        en += s * s
        t += 1
      }
      out += AudioWindow(r.doc_id, w.toLong, (end - start).toLong,
        mn, mx, sa, en)
      w += 1
    }
    out.result()
  }

  /** Ensure the audio fixture is built and return its committed dir —
    * the path a STREAMING reader points its file source at
    * ([[graft.streaming.StreamingOps.streamingMediaDecode]]).
    */
  private[graft] def audioFixtureDir(spark: SparkSession,
                                     sfDir: String): String = {
    audioTable(spark, sfDir)
    s"${IndexStore.indexDir(sfDir, "media-audio-v1", "documents")}/audio"
  }

  /** Load-or-build the persisted audio fixture — same committed-store
    * pattern as [[mediaTable]]; `decoded_bytes` = 2·n_samples (PCM is
    * uncompressed, decode ≈ encode size).
    */
  private[graft] def audioTable(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val dir = IndexStore.indexDir(sfDir, "media-audio-v1", "documents")
    if (!IndexStore.committed(s"$dir/audio")) {
      import spark.implicits._
      IndexStore.saveDataset(
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, encodeAudioOne(id),
            2L * audioSamples(id))))
          .toDF("doc_id", "content", "decoded_bytes")
          .select(col("doc_id"), col("content"),
            struct(lit("audio/pcm-s16le").as("format"),
              lit(16000).as("sample_rate"),
              length(col("content")).cast("long").as("n_bytes"),
              col("decoded_bytes")).as("meta")),
        s"$dir/audio")
    }
    IndexStore.readCached(spark, s"$dir/audio")
  }

  /** Frame-level audio features over the opaque PCM column: byte-
    * targeted batches ([[batchCount]] with the same parallelism floor as
    * the image path), one fused decode+featurize `mapPartitions` pass,
    * window rows out. The audio twin of [[frameSample]].
    */
  def audioFeatures(spark: SparkSession, sfDir: String,
                    targetBatchBytes: Long = DefaultBatchBytes): DataFrame = {
    import spark.implicits._
    val audio = audioTable(spark, sfDir)
    val totalBytes = cachedDecodedBytes(sfDir, "audio", audio)
    val n = math.max(batchCount(totalBytes, targetBatchBytes),
      spark.sparkContext.defaultParallelism)
    audio.select(col("doc_id"), col("content"))
      .repartition(n, col("doc_id")).as[AudioRow]
      .mapPartitions(_.flatMap(decodeAudioOne)).toDF()
      .orderBy("doc_id", "window")
  }

  private def csv(c: org.apache.spark.sql.Column) =
    array_join(transform(c, _.cast("string")), ",")

  /** Gate shape of [[decode]]: the array column serialized to a canonical
    * CSV string (external comparators can't hash array cells); the
    * array-typed [[decode]] stays the library API.
    */
  def decodeFlat(spark: SparkSession, sfDir: String): DataFrame =
    decode(spark, sfDir)
      .withColumn("frame_checksums", csv(col("frame_checksums")))

  /** Gate shape of [[featurize]] — see [[decodeFlat]]. */
  def featurizeFlat(spark: SparkSession, sfDir: String): DataFrame =
    featurize(spark, sfDir)
      .withColumn("features", csv(col("features")))
}
