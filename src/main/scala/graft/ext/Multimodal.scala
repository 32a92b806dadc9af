package graft.ext

import graft.Tables

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata, processed by per-partition batch
  * functions. The decode kernel is REAL for self-describing formats —
  * PNG/BMP/WAV headers parse with pure JVM byte arithmetic
  * ([[decodeMedia]]); only codec-compressed media (JPEG scans, H.264),
  * which needs native codec libraries absent in this container, falls back
  * to a clearly-marked deterministic STUB. The Spark-side plumbing
  * (schema, batching, partition mapping, metadata extraction) is identical
  * either way, so a JNI/codec-backed kernel swaps in without touching the
  * plan shape.
  *
  * Scale notes: payloads never pass through a shuffle — metadata is derived
  * map-side, and `mapPartitions` keeps decode batched per-partition (the
  * Scala analogue of `mapInPandas`). Binary columns stay out of groupBy keys.
  */
object Multimodal {

  final case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      content_md5: String,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int)

  /** STUB decode kernel: derives fake-but-deterministic image dimensions
    * from the payload's MD5. Used only for payloads [[decodeMedia]] cannot
    * recognize; everything around it (batch shape, schema) is production
    * plumbing. MD5 (not a JVM hashCode) on purpose: any SQL engine can
    * replay `md5(payload)` and re-derive the exact dims from the first
    * four digest bytes, which is what lets the frame-sampling query be
    * hash-checked against an external oracle instead of rows-only.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val b0 = d(0) & 0xff; val b1 = d(1) & 0xff
    val b2 = d(2) & 0xff; val b3 = d(3) & 0xff
    val w = 160 + (b0 % 8) * 160 // 160..1280
    val ht = 90 + (b1 % 8) * 90 // 90..720
    val frames = 1 + (b2 * 256 + b3) % 240 // 1..240
    (w, ht, frames)
  }

  /** REAL header decode for self-describing formats — pure JVM byte
    * parsing, no media libraries: PNG (IHDR width/height), BMP
    * (BITMAPINFOHEADER), WAV (RIFF chunk walk; generic dims carry
    * channels/sample-rate, frames = data bytes / block align). Detection
    * by magic bytes; codec-compressed media (JPEG scans, H.264...) would
    * need native codecs absent in this container and falls back to the
    * deterministic stub, labeled `synthetic`.
    */
  def decodeMedia(p: Array[Byte]): (String, Int, Int, Int) = {
    def be32(o: Int) = ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
      ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
    def le32(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
      ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
    def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    if (p.length >= 24 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a)
      ("png", be32(16), be32(20), 1)
    // 'BM' alone matches English text ("BMW..."); require a known
    // BITMAPINFOHEADER size at offset 14 to claim the payload
    else if (p.length >= 26 && p(0) == 'B' && p(1) == 'M' &&
        Set(12, 40, 52, 56, 108, 124)(le32(14)) &&
        le32(18) > 0 && le32(22) != 0 && le32(22) != Int.MinValue)
      // height<0 = top-down row order; nonsense dims fall through to the
      // stub instead of emitting negative width/height
      ("bmp", le32(18), math.abs(le32(22)), 1)
    else if (p.length >= 36 && be32(0) == 0x52494646 && be32(8) == 0x57415645) {
      // chunk offsets in Long: a corrupt near-2^31 size field must not
      // overflow into a negative array index
      var off = 12L
      var blockAlign = 0; var rate = 0; var channels = 0; var dataLen = 0
      while (off + 8 <= p.length) {
        val o = off.toInt
        val id = be32(o); val sz = le32(o + 4)
        if (sz < 0) { off = p.length.toLong } // corrupt size: stop the walk
        else {
          if (id == 0x666d7420 && off + 22 <= p.length) { // "fmt "
            channels = le16(o + 10); rate = le32(o + 12)
            blockAlign = le16(o + 20)
          }
          // clamp to bytes actually present: a corrupt size near 2^31
          // would otherwise declare ~2 billion frames and blow up the
          // frame-sampling sequence()
          if (id == 0x64617461) dataLen = math.min(sz, p.length) // "data"
          off += 8L + sz + (sz & 1) // chunks are word-aligned
        }
      }
      val frames = if (blockAlign > 0) dataLen / blockAlign else 0
      ("wav", channels, rate, frames)
    } else {
      val (w, h, f) = decodeStub(p)
      ("synthetic", w, h, f)
    }
  }

  /** Per-partition batched "decode": the mapPartitions boundary is where a
    * vectorized media library would process a whole batch at once.
    */
  def extractMeta(spark: SparkSession, payloads: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (kind, w, h, f) = decodeMedia(bytes)
          val md5hex = java.security.MessageDigest
            .getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
          MediaMeta(id, bytes.length.toLong, md5hex, kind, w, h, f)
        }
      }
  }

  /** Frame sampling: every `everyN`-th frame index per media item,
    * produced relationally (sequence + explode) from the decoded metadata —
    * the downstream shape for per-frame feature extraction. The payload is
    * NOT carried through the explode; frames re-join the payload store by
    * doc_id only where a kernel actually needs bytes.
    */
  def sampleFrames(meta: Dataset[MediaMeta], everyN: Int = 10): DataFrame =
    meta
      .toDF()
      // frameless media (e.g. a WAV with an empty data chunk) contributes
      // no frame rows — and must not feed sequence() a negative bound
      .filter(col("n_frames") >= 1)
      .select(
        col("doc_id"),
        col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))).as("frame_id"))

  /** Resize stage STUB: target dimensions preserving aspect ratio, computed
    * as plain column arithmetic on the decoded metadata (a real kernel
    * would map the payload batch; the plan shape — no shuffle, map-side
    * only — is the production one).
    */
  def resizePlan(meta: Dataset[MediaMeta], maxSide: Int = 256): DataFrame =
    meta
      .toDF()
      .withColumn("scale",
        least(lit(maxSide) / col("width"), lit(maxSide) / col("height"), lit(1.0)))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))
      .select("doc_id", "width", "height", "out_w", "out_h")

  /** Resize planning as a registered query: payload -> batched stub
    * decode -> aspect-preserving target dims ([[resizePlan]]). Like
    * [[qMultimodalFrames]], the md5-derived stub dims let DuckDB replay
    * the whole computation with hex-digit arithmetic — the resize stage
    * of the media pipeline hash-checks end-to-end even though the
    * "decode" is synthetic.
    */
  def qMultimodalResize(t: Tables, maxSide: Int = 256): DataFrame = {
    val payloads = t.documents
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("payload", encode(col("text"), "UTF-8"))
    resizePlan(extractMeta(t.spark, payloads), maxSide).orderBy("doc_id")
  }

  /** Full multimodal pipeline as a registered (rows-only) query: payload ->
    * batched stub decode -> frame sampling, emitting (doc, frame) grain.
    */
  def qMultimodalFrames(t: Tables): DataFrame = {
    val payloads = t.documents
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    sampleFrames(extractMeta(t.spark, payloads))
      .orderBy("doc_id", "frame_id")
  }

  /** Binary-payload dedup census — the CHEAPEST multimodal filter, run
    * before any decode: md5 over the raw payload bytes, per-source
    * duplicate counts plus total duplicate bytes reclaimable (bytes of
    * every non-first copy). Byte-level hashing means identical media
    * dedups regardless of filename/metadata. One hash-aggregate shuffle;
    * md5 map-side; payload bytes never shuffle (only hash + length do).
    */
  def qMultimodalDedup(t: Tables): DataFrame = {
    val payloads = t.documents
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("source"),
        md5(col("payload")).as("h"),
        octet_length(col("payload")).cast("long").as("nbytes"))
    payloads
      .groupBy("source", "h")
      .agg(
        count(lit(1)).as("copies"),
        min("nbytes").as("sz"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum("copies").as("n_payloads"),
        (sum("copies") - count(lit(1))).as("n_dupes"),
        sum((col("copies") - 1) * col("sz")).as("dup_bytes"))
      .orderBy("source")
  }

  /** Chunk planning for embedding pipelines: fixed `window`-byte chunks at
    * `stride` hops over each payload, emitted as (doc, offset, len) rows
    * WITHOUT moving payload bytes — the grain a vectorized embed/encode
    * kernel consumes, re-joined to the payload store only inside the
    * kernel's partition. Pure sequence arithmetic, so it oracle-checks
    * exactly; the same plan drives audio-frame or image-tile windows.
    */
  def qMultimodalChunks(t: Tables, window: Int = 64, stride: Int = 48): DataFrame =
    t.documents
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("byte_len",
        octet_length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("chunk_off",
        explode(sequence(lit(0L), greatest(col("byte_len") - 1, lit(0L)),
          lit(stride.toLong))))
      .withColumn("chunk_len",
        least(lit(window.toLong), col("byte_len") - col("chunk_off")))
      .select("doc_id", "chunk_off", "chunk_len", "byte_len")
      .orderBy("doc_id", "chunk_off")

  /** Oracle-checkable slice of the multimodal path: treat document text
    * bytes as the opaque payload; byte length + content hash are computed
    * with native expressions (octet_length/md5 — identical in DuckDB).
    * The stub-decoded fields are covered by unit tests, not the oracle.
    */
  def qMultimodalMeta(t: Tables): DataFrame =
    t.documents
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        md5(col("payload")).as("content_md5"))
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .orderBy("doc_id")
}
