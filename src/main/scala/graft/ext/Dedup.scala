package graft.ext

import graft.Tables
import graft.Engine.LoopCheckpointOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * Tiers (cheapest first):
  *  1. exact        — md5 over normalized text, hash groupBy (one shuffle);
  *  2. MinHash+LSH  — shingle -> k minhashes -> band buckets -> candidate
  *                    pairs -> exact-jaccard verify. Cost is the band-bucket
  *                    shuffle (linear) plus per-bucket pair expansion,
  *                    instead of the O(n^2) all-pairs join;
  *  3. SimHash      — 64-bit fingerprint, groupable/Hamming-comparable;
  *  4. n-gram Jaccard — exact pairwise measure, used only to verify LSH
  *                    candidates or on small blocked subsets.
  *
  * Everything is built from codegen'd higher-order array functions
  * (transform/aggregate/filter) — no UDFs, so the whole stage pipeline stays
  * in Tungsten. All hashes are `xxhash64`, deterministic across runs and
  * partitionings.
  */
object Dedup {

  /** Whitespace-normalized lowercase word array. */
  def words(text: Column): Column = split(trim(lower(text)), " +")

  /** Word n-gram shingles via the native [[graft.functions.WordShingles]]
    * expression: one pass over the word array. (The HOF formulation —
    * transform over an index sequence with array_join(slice) — re-splits
    * the text once per gram, because interpreted lambdas re-evaluate
    * captured child expressions per element.)
    */
  def shingles(text: Column, n: Int = 3): Column =
    call_function("word_shingles", words(text), lit(n))

  /** Per-group candidate membership with a HARD cap on aggregation-buffer
    * size: `bounded_topk` keeps at most `maxSize + 1` ids per group at all
    * times — map-side partials included — so a pathological hot bucket
    * (boilerplate shingles, near-constant band signatures) ships a few
    * capped rows per map task instead of its full membership through the
    * shuffle. The previous collect_list + size-filter formulation admitted
    * the same buckets but buffered the whole hot bucket first: an
    * unbounded aggregation state and an executor OOM at 100 TB. Overflow
    * surfaces as size == maxSize + 1, which the [2, maxSize] admission
    * filter drops — bucket admission is therefore IDENTICAL to the
    * unbounded formulation (any bucket with df > maxSize saturates the
    * cap); `members` comes back id-ascending.
    */
  private[graft] def cappedMembers(
      grouped: org.apache.spark.sql.RelationalGroupedDataset,
      maxSize: Int): DataFrame =
    grouped
      .agg(call_function("bounded_topk",
        struct(lit(0.0).as("score"), col("id").cast("long").as("id")),
        lit(maxSize + 1), lit(true)).as("capped"))
      .filter(size(col("capped")).between(2, maxSize))
      .withColumn("members", expr("transform(capped, x -> x.id)"))

  /** All unordered member pairs of each capped bucket, canonicalized
    * (id1 < id2) and deduplicated across buckets. Expansion is map-side
    * (flatten/transform over the bounded members array — fan-out capped at
    * maxSize^2/2 per bucket); only the pair ids shuffle, for the dedup.
    */
  private[graft] def bucketPairs(members: DataFrame): DataFrame =
    members
      .select(explode(expr(
        """flatten(transform(members, (a, i) ->
             transform(slice(members, i + 2, size(members)), b ->
               named_struct('id1', least(a, b), 'id2', greatest(a, b)))))"""))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .dropDuplicates("id1", "id2")

  /** Exact duplicate stats per source: groupBy on md5(normalized text).
    * Scale: single hash-aggregate shuffle; the md5 is computed map-side.
    */
  def qDedupExact(t: Tables): DataFrame =
    t.documents
      .withColumn("h", md5(lower(trim(col("text")))))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dupes"))
      .orderBy("source")

  /** Duplicate-multiplicity histogram over the opening-prefix
    * fingerprint (first 12 normalized words): how many template FAMILIES
    * exist at each copy count, and how many documents (and redundant
    * copies) each class holds — the shape report that tells a curation
    * team whether duplication is a few mega-templates or a long tail of
    * doubles (different fixes). The prefix key catches boilerplate
    * openings that full-text equality misses. Two nested hash
    * aggregates: corpus → (fingerprint, family size) → (size, family
    * count); output is bounded by the distinct multiplicities.
    */
  def qDupSizeHist(t: Tables, prefixWords: Int = 12): DataFrame = {
    val groups = t.documents
      .withColumn("h",
        md5(array_join(slice(words(col("text")), 1, prefixWords), " ")))
      .groupBy("h").agg(count(lit(1)).as("sz"))
    val tot = Window.partitionBy()
    groups
      .groupBy(col("sz").as("copies"))
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", (col("copies") * col("n_groups")).cast("long"))
      .withColumn("n_dup_copies",
        ((col("copies") - 1L) * col("n_groups")).cast("long"))
      .withColumn("doc_share",
        col("n_docs").cast("double") /
          sum("n_docs").over(tot).cast("double"))
      .orderBy("copies")
  }

  /** MinHash + LSH near-duplicate candidate pairs, verified by exact
    * shingle-set jaccard. Bands: `bands` groups of `rowsPerBand` signature
    * slots; docs sharing any band bucket are candidates.
    *
    * Scale path: explode is bands-per-doc (constant factor), the bucket
    * groupBy shuffles on (band, hash) — no all-pairs comparison ever
    * materializes. Skewed buckets (boilerplate docs) are capped.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 50): DataFrame = {
    // shingled is consumed again for candidate verification and pairs
    // feeds three consumers (two verify joins + the candidate-id
    // semi-join); without caching, the whole shingle->sig->band pipeline
    // re-executes per consumer. MEMORY_AND_DISK so an executor under
    // pressure spills instead of OOMing.
    val shingled = shingledFrame(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out =
      minhashPairsFromShingled(shingled, bands, rowsPerBand, threshold, maxBucket)
    shingled.unpersist(false)
    out
  }

  /** The (id, shd) hashed-shingle projection every set-similarity stage
    * starts from. Shingles live only as 64-bit hashes
    * (graft.functions.ShingleHashes): no shingle strings are materialized,
    * and the jaccard verify intersects long arrays instead of string
    * arrays.
    */
  private def shingledFrame(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Engine.spread(
      docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("shd", call_function("shingle_hashes", words(col("text")), lit(3)))
      .filter(size(col("shd")) > 0)
      .select(col("id"), col("shd"))

  /** The documents table's shingle frame behind a build-once session
    * cache: four graded queries (banded minhash, the rare-gram verify,
    * and the funnel composition's warm path) all start from the identical
    * (id, shd) projection, and per-query rebuilds are pure fixed cost in
    * a bench/verify run. Cache-owned — callers must not unpersist.
    */
  private val shingledDocsCache = graft.Engine.DirCache.frame(t =>
    shingledFrame(t.documents, "doc_id", "text"))

  /** [[minhashPairs]]' banding + verify over an already-materialized
    * shingle frame (cached or caller-persisted — this layer neither
    * persists nor frees it).
    */
  private[graft] def minhashPairsFromShingled(
      shingled: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sig = shingled
      .withColumn("sig", call_function("minhash_sig_longs", col("shd"), lit(k)))
      .select(col("id"), col("sig"))

    // band bucket = xxhash64 of the band's signature slots (statically
    // unrolled per band -> fully codegen'd, no array slicing/casting).
    // Band rows carry ONLY the doc id: shipping the shingle-hash arrays
    // through the bands-per-doc shuffle would multiply the exchange volume
    // by payload x bands; the arrays are joined back below for just the
    // candidate pairs — the only shape that survives a 100 TB corpus.
    val bandHashes = (0 until bands).map { b =>
      val slots = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("sig"), i + 1))
      xxhash64((slots :+ lit(b)): _*)
    }
    val banded = sig
      .select(col("id"), posexplode(array(bandHashes: _*)).as(Seq("band", "bucket")))

    // candidate pairs from shared (band,bucket); the bounded-buffer cap
    // drops pathological buckets without ever materializing them
    val pairs = bucketPairs(cappedMembers(banded.groupBy("band", "bucket"), maxBucket))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // materialize the (small, verified) result, then drop the pair cache —
    // a long-lived session would otherwise accumulate storage blocks on
    // every invocation (the shingle frame is the caller's to manage)
    val out = verifyJaccard(pairs, shingled, threshold).loopCheckpoint()
    pairs.unpersist(false)
    out
  }

  /** The exact-jaccard VERIFY stage every LSH pipeline funnels into:
    * fetch hashed shingle sets for ONLY the candidate docs (a broadcast
    * semi-join against the cached shingled frame; at a scale where the
    * corpus-wide shd cache is too big to keep, this join swaps to the raw
    * corpus + re-derivation for the handful of candidates — either way
    * nothing doc-sized crosses the banding shuffle), intersect, threshold.
    * The verify joins are left to AQE: the candidate set is bounded
    * (bucket-capped) so AQE converts them to broadcasts at runtime from
    * the actual sizes; forcing eager broadcast here serializes the nested
    * broadcast builds and measured ~3x slower.
    */
  private[graft] def verifyJaccard(
      pairs: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val candIds = pairs.select(col("id1").as("id"))
      .union(pairs.select(col("id2").as("id")))
      .distinct()
    val candShd = shingled.join(broadcast(candIds), "id")
    pairs
      .join(candShd.toDF("id1", "sh1"), "id1")
      .join(candShd.toDF("id2", "sh2"), "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("uni",
        (size(col("sh1")) + size(col("sh2"))).cast("double") - col("inter"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** [[minhashPairs]]' verify stage under a DETERMINISTIC candidate
    * generator, graded with a full hash oracle. Candidates are rare-gram
    * buckets: doc pairs sharing at least one 3-gram that appears in 2 to
    * `maxDf` documents — the same bucket-join + cap + exact-jaccard-verify
    * plan shape as the minhash banding (a rare gram IS a band bucket), but
    * with bucket membership defined by the gram itself rather than an
    * engine-specific signature, so DuckDB replays the identical candidate
    * set from gram strings and the identical jaccard from gram-set sizes
    * (hashed-set jaccard = string-set jaccard; the hashes are injective on
    * the corpus modulo 2^-64 collisions). On this corpus the rare-gram
    * candidates recover every >= 0.7 pair the banded pipeline finds, so
    * this query hash-checks exactly the verify arithmetic q_dedup_minhash
    * relies on.
    *
    * Scale: gram df and bucket explode are one shuffle each; the df cap
    * bounds per-bucket fan-out at maxDf^2/2; verify touches only candidate
    * docs. Same 100 TB posture as the banded variant.
    */
  def qDedupMinhashVerify(
      t: Tables, maxDf: Int = 8, threshold: Double = 0.7): DataFrame = {
    val shingled = shingledDocsCache(t) // session cache owns the frame
    verifyJaccard(rareGramPairs(t, maxDf), shingled, threshold)
      .orderBy("id1", "id2")
  }

  /** The rare-gram candidate pair set at `maxDf` — the [2, maxDf]
    * admission over hashed-shingle buckets. shd is distinct per doc, so
    * bucket size == document frequency; the [2, maxDf] band is both the
    * rarity definition and the skew cap — and the bounded-buffer
    * aggregate means a corpus-stopword gram ships maxDf+1 ids per map
    * task instead of its (corpus-sized) posting list. The DEFAULT-config
    * frame sits behind a session cache: three graded consumers (the
    * verify query, the cost model, the dup-evidence report) read the
    * identical pair set, and per-consumer rebuilds were the cost model's
    * whole excess.
    */
  private[graft] def rareGramPairs(t: Tables, maxDf: Int): DataFrame =
    if (maxDf == 8) rarePairsCache(t)
    else bucketPairs(cappedMembers(
      shingledDocsCache(t).select(col("id"), explode(col("shd")).as("g"))
        .groupBy("g"), maxDf))

  private val rarePairsCache = graft.Engine.DirCache.frame(t =>
    bucketPairs(cappedMembers(
      shingledDocsCache(t).select(col("id"), explode(col("shd")).as("g"))
        .groupBy("g"), 8)))

  /** FULL-RECALL ground-truth jaccard >= `threshold` pair set via ppjoin
    * prefix filtering (Xiao et al. 2008) — the Spark twin of the DuckDB
    * oracle construction that grades `q_dedup_minhash`: order each doc's
    * grams canonically (global document frequency ascending, gram hash
    * ascending — rarest first), keep each doc's first
    * `ng - floor(threshold*ng) + 1` grams (floor, not the lemma's ceil:
    * one gram longer is recall-safe under float rounding of
    * `threshold*ng`), bucket-join prefixes, exact-verify. The prefix
    * lemma guarantees every true >= threshold pair shares a prefix gram,
    * so recall is 1 BY CONSTRUCTION — this is the reference the stress
    * harness measures banded-minhash recall against on corpora where
    * brute-force n²/2 verification is unaffordable.
    *
    * Scale: prefixes are the rarest ~(1-threshold) fraction of each
    * doc's grams, so hot boilerplate grams (huge df) sort LAST and never
    * enter a prefix unless a doc is nearly all boilerplate — candidate
    * volume is df-bounded the same way the [2, maxDf] admission bounds
    * the rare-gram funnel, without a cap that could cost recall.
    */
  private[graft] def jaccardGroundTruth(
      t: Tables, threshold: Double = 0.7): DataFrame =
    jaccardGroundTruthFromShingled(shingledDocsCache(t), threshold)

  /** [[jaccardGroundTruth]] over an explicit (id, shd) shingle frame —
    * the seam the spec's brute-force cross-check uses.
    */
  private[graft] def jaccardGroundTruthFromShingled(
      shingled: DataFrame, threshold: Double): DataFrame = {
    val dg = shingled.select(col("id"), explode(col("shd")).as("g"))
    // shd is distinct per doc, so COUNT per gram == document frequency
    val dfreq = dg.groupBy("g").agg(count(lit(1)).as("df"))
    val wCanon = Window.partitionBy("id").orderBy(col("df"), col("g"))
    val pref = dg.join(dfreq, "g")
      .select(col("id"), col("g"),
        row_number().over(wCanon).as("rk"),
        count(lit(1)).over(Window.partitionBy("id")).as("ng"))
      .filter(col("rk") <=
        col("ng") - floor(lit(threshold) * col("ng")) + 1)
      .select("id", "g")
    val cand = pref.select(col("id").as("id1"), col("g"))
      .join(pref.select(col("id").as("id2"), col("g")), "g")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    verifyJaccard(cand, shingled, threshold)
  }

  /** The documents table's STRING-gram frame (id, gram) behind a
    * build-once session cache: the review/audit tier (dup evidence, the
    * cost model) needs gram text, and its per-query consumers each read
    * the exploded frame several times — one materialization per dataset
    * serves them all (the string sibling of [[shingledDocsCache]]).
    * Cache-owned; callers must not free.
    */
  private val gramStringsCache = graft.Engine.DirCache.frame(t =>
    graft.Engine.spread(t.documents)
      .select(col("doc_id").as("id"),
        explode(array_distinct(shingles(col("text"), 3))).as("g")))

  /** Near-duplicate EVIDENCE for human review: each verified >= `threshold`
    * pair annotated with its `topK` rarest shared 3-grams (rarity = corpus
    * document frequency) — the lines a reviewer reads to confirm a merge
    * before a destructive dedup ships. Works on gram STRINGS, not hashes:
    * evidence is a human-facing surface, so the text must exist here by
    * definition (the throughput path, [[qDedupMinhash]], stays hashed).
    *
    * Scale: one corpus-wide distinct-gram explode feeds sizes, df, and the
    * rare-bucket candidate generator (same [2, maxDf] admission as
    * [[qDedupMinhashVerify]] — buckets stay bounded); the verify +
    * evidence joins touch only candidate pairs, and the per-pair gram
    * ranking windows over the pair-shared-gram frame (bounded by pairs x
    * doc gram count, never corpus-sized).
    */
  def qDupEvidence(
      t: Tables, maxDf: Int = 8, threshold: Double = 0.7,
      topK: Int = 3): DataFrame = {
    val dg = gramStringsCache(t) // session cache owns the frame
    val sz = dg.groupBy("id").agg(count(lit(1)).as("ng"))
    val dfreq = dg.groupBy("g").agg(count(lit(1)).as("df"))
    // the candidate pair SET is identical over string grams and their
    // hashed-shingle image (injective modulo 2^-64 collisions), so the
    // default config reads the shared session pair cache instead of
    // re-running the bucket pipeline over the string frame
    val pairs = rareGramPairs(t, maxDf)
    // verify: one pair-gram intersection pass over the (cached, bounded)
    // candidate set. NOT materialized as a shared pair-gram frame: the
    // evidence stage below re-joins only the VERIFIED pairs (a small
    // fraction of the candidates), which measured cheaper than
    // checkpointing the full candidate × shared-gram expansion
    val scored = pairs
      .join(dg.toDF("id1", "g"), "id1")
      .join(dg.toDF("id2", "g"), Seq("id2", "g"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      .join(sz.toDF("id1", "ng1"), "id1")
      .join(sz.toDF("id2", "ng2"), "id2")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("ng1") + col("ng2") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .loopCheckpoint()
    // evidence grams only for the VERIFIED pairs: re-derive their shared
    // grams, rank by corpus df
    val wRare = Window.partitionBy("id1", "id2")
      .orderBy(col("df").asc, col("g").asc)
    val evidence = scored.select("id1", "id2")
      .join(dg.toDF("id1", "g"), "id1")
      .join(dg.toDF("id2", "g"), Seq("id2", "g"))
      .join(dfreq, "g")
      .withColumn("rk", row_number().over(wRare))
      .filter(col("rk") <= topK)
      .groupBy("id1", "id2")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rk"), col("df"), col("g")))),
        x => concat(x.getField("df").cast("string"), lit(":"),
          x.getField("g"))), "|").as("evidence"))
    val out = scored
      .join(evidence, Seq("id1", "id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        col("inter").cast("long").as("n_shared"), col("evidence"))
      .orderBy("id1", "id2")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(scored)
    out
  }

  /** Pair-level exact ALIGNMENT runs — the suffix-array-style output of
    * exact-substring dedup (Lee et al. 2022's "train-data dedup" shape):
    * for each document pair, every maximal run of consecutive shared
    * word `n`-grams on a common alignment diagonal (p1 − p2 constant),
    * reported as (start1, start2, run length in words). This is the
    * PAIR view the per-document coverage report
    * ([[graft.ext.TextAnalysis.qDupSpans]]) aggregates away — the
    * surface a span-REWRITE step (cut the repeated range from one side)
    * consumes, and the alignment evidence a reviewer reads next to
    * [[qDupEvidence]]'s rare-gram list.
    *
    * Scale: gram text never crosses an exchange (60-bit md5 keys);
    * candidate positions come only from grams with cross-doc df in
    * [2, `maxDf`] (the [[qDedupMinhashVerify]] admission — bounded
    * fan-out per gram, boilerplate grams drop out); the run-assembly
    * window partitions by (pair, diagonal) — groups bounded by matched
    * positions, never corpus-sized. Islands via the p1 − row_number
    * trick: one window, no self-join. Deterministic end to end, so the
    * whole alignment table hash-oracles against a string-gram SQL
    * replay.
    */
  def qSpanAlignments(
      t: Tables, n: Int = 8, maxDf: Int = 8, minWords: Int = 12): DataFrame = {
    val h = expr("conv(substring(md5(g), 1, 15), 16, 10)").cast("long")
    val gp = graft.Engine.spread(t.documents)
      .select(col("doc_id"),
        posexplode(shingles(col("text"), n)).as(Seq("start", "g")))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        h.as("h"))
    val adm = gp.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("h")
    val gpa = gp.join(adm, "h").loopCheckpoint()
    val pairs = gpa
      .select(col("doc_id").as("id1"), col("start").as("p1"), col("h"))
      .join(gpa.select(col("doc_id").as("id2"), col("start").as("p2"),
        col("h")), "h")
      .filter(col("id1") < col("id2"))
      .withColumn("diag", col("p1") - col("p2"))
    val wRun = Window.partitionBy("id1", "id2", "diag").orderBy("p1")
    val out = pairs
      .withColumn("island", col("p1") - row_number().over(wRun))
      .groupBy("id1", "id2", "diag", "island")
      .agg(min("p1").as("start1"), min("p2").as("start2"),
        (max("p1") - min("p1") + n).cast("long").as("len_words"))
      .filter(col("len_words") >= minWords)
      .select(col("id1"), col("id2"), col("start1"), col("start2"),
        col("len_words"))
      .orderBy("id1", "id2", "start1", "start2")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(gpa)
    out
  }

  /** The candidate-generation COST MODEL — why LSH/bucketing instead of
    * all-pairs, as an auditable number per funnel stage: naive n²/2,
    * raw gram-bucket pair volume, the [2, maxDf]-admitted volume, the
    * deduplicated candidate set, and the verified output. The
    * share_vs_naive column is the comparison-count reduction each stage
    * buys — the justification a 100 TB dedup plan is costed on (at n =
    * 10⁹ docs, naive is 5·10¹⁷ comparisons; the admitted-bucket volume
    * is linear in corpus size times a df-bounded constant).
    *
    * All stage counts are exact integers from one gram frame (sizes are
    * bucket-df aggregates; candidate/verified counts reuse the graded
    * verify pipeline), so the whole report hash-oracles. The stage rows
    * are driver-assembled from SCALAR aggregates — k-row orchestration,
    * not data collection.
    */
  def qDedupCostModel(
      t: Tables, maxDf: Int = 8, threshold: Double = 0.7): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val dg = gramStringsCache(t) // session cache owns the frame
    val nDocs = dg.select("id").distinct().count()
    val b = dg.groupBy("g").agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).cast("long"),
        sum(expr("df * (df - 1) DIV 2")).cast("long"),
        sum(when(col("df").between(2, maxDf), lit(1L))
          .otherwise(lit(0L))).cast("long"),
        sum(when(col("df").between(2, maxDf), expr("df * (df - 1) DIV 2"))
          .otherwise(lit(0L))).cast("long"))
      .head()
    // candidate + verified counts come off ONE banding run: the pair set
    // is the shared session frame ([[rareGramPairs]] — identical
    // membership to the string-gram buckets, since shd is the injective
    // hash image of the gram set, so bucket sizes and the [2, maxDf]
    // admission coincide), counted once and fed straight into the verify
    // stage qDedupMinhashVerify grades — previously the bucket pipeline
    // executed twice (a count, then again inside the verify query),
    // which made this report the slowest local query in the registry
    val shingled = shingledDocsCache(t)
    val cached = maxDf == 8 // rareGramPairs serves the default from cache
    val pairs0 = rareGramPairs(t, maxDf)
    val pairs = if (cached) pairs0
      else pairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candCount = pairs.count()
    val verified = verifyJaccard(pairs, shingled, threshold).count()
    if (!cached) pairs.unpersist(false)
    val naivePairs = nDocs * (nDocs - 1) / 2
    Seq(
      (1L, "naive_all_pairs", nDocs, naivePairs),
      (2L, "gram_buckets_raw", b.getLong(0), b.getLong(1)),
      (3L, "buckets_admitted", b.getLong(2), b.getLong(3)),
      (4L, "candidates_distinct", candCount, candCount),
      (5L, "verified_pairs", verified, verified))
      .toDF("stage_ord", "stage", "n_units", "n_pairs")
      .withColumn("share_vs_naive",
        round(col("n_pairs").cast("double") / lit(naivePairs.toDouble), 9))
      .orderBy("stage_ord")
  }

  def qDedupMinhash(t: Tables): DataFrame =
    // the documents shingle frame comes from the session cache (shared
    // with the rare-gram verify) instead of a per-call rebuild
    minhashPairsFromShingled(shingledDocsCache(t),
      bands = 8, rowsPerBand = 4, threshold = 0.7, maxBucket = 50)
      .orderBy("id1", "id2")

  /** SimHash: 64-bit fingerprint — sign of per-bit vote counts of word
    * hashes, via the native [[graft.functions.SimHash64]] expression
    * (single hash pass per word instead of 64 aggregate passes).
    */
  def simhash(text: Column): Column =
    call_function("simhash64", words(text))

  /** The PORTABLE simhash fingerprint ([[qSimhashPortable]]'s md5-vote
    * construction) as a single per-row Column — no aggregation across
    * rows, so it composes into contexts where a groupBy-based fingerprint
    * cannot go: a streaming query may run only ONE stateful aggregation,
    * and a per-doc vote aggregate would already spend it. Backed by the
    * native [[graft.functions.PortableSimhash60]] expression (one MD5 +
    * tight vote loop per distinct word); [[portableSimhashColHof]] is the
    * reference higher-order-function formulation it is parity-tested
    * against.
    */
  def portableSimhashCol(text: Column): Column =
    call_function("portable_simhash", words(text))

  /** Reference HOF formulation of the portable fingerprint — the direct
    * transliteration of the DuckDB oracle's arithmetic (one md5/conv per
    * distinct word hoisted into a hash array, then a 60-lane vote zip).
    * Kept as the parity baseline for the native expression; interpreted
    * lambdas make it ~10x slower, so production paths use
    * [[portableSimhashCol]].
    */
  def portableSimhashColHof(text: Column): Column = {
    val hs = transform(array_distinct(words(text)),
      w => conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(hs, array_repeat(lit(0L), 60), (acc, h) =>
      zip_with(acc,
        transform(sequence(lit(0), lit(59)), j =>
          when(call_function("shiftright", h, j) % 2 === 1, lit(1L))
            .otherwise(lit(-1L))),
        (a, c) => a + c))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)), (v, j) =>
        when(v >= 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** SimHash fingerprint-bucket dedup report: one row per distinct
    * fingerprint with its multiplicity and lowest-id keeper. Graded on
    * the PORTABLE md5-vote fingerprint ([[portableSimhashCol]]) so the
    * whole report hash-oracles — the fingerprint is bit-deterministic
    * integer arithmetic both engines reproduce (graduating this query
    * from rows-only, the same route [[qDedupMinhash]] took in round 7).
    * The xxhash64-based [[simhash]] stays the library's throughput
    * fingerprint (one hash pass, no md5) for pipelines that don't need
    * cross-engine replay; its semantics are covered by ExtSpec and the
    * portable twin shares every downstream shape.
    *
    * Scale: fingerprint is a map-side projection; one hash-aggregate
    * shuffle on the 60-bit key.
    */
  def qDedupSimhash(t: Tables): DataFrame =
    t.documents
      .withColumn("fp", portableSimhashCol(col("text")))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .filter(col("n") >= 1)
      .orderBy("fp")

  /** Engine-PORTABLE SimHash near-dup pairs, graded with a full hash
    * oracle — the companion to [[qDedupSimhash]], whose xxhash64-based
    * fingerprint is engine-specific and therefore rows-only checked.
    *
    * Fingerprint: 60 bits; bit j is the sign of a vote sum over the doc's
    * DISTINCT words, where word w votes +1 on bit j iff bit j of the
    * leading 15 hex digits of md5(w) is set — md5 being the one hash both
    * engines evaluate identically. Votes are exact small integers, so the
    * fingerprint (and everything downstream: band codes, candidate set,
    * hamming distances) is bit-deterministic under any aggregation order,
    * which is what lets a distributed simhash hash-match a single-threaded
    * SQL replay.
    *
    * Scale shape is the same banded-LSH plan as [[minhashPairs]]: 4 bands
    * x 15 bits, docs sharing a band code are candidates, membership goes
    * through the bounded-buffer cap ([2, maxBucket] admission), and the
    * verify stage is a popcount over the fingerprint xor (hamming <=
    * maxHamming) joined back over ONLY the candidate ids. Fingerprints
    * come from the native per-row [[graft.functions.PortableSimhash60]]
    * — a map-side projection, so the word stream never explodes and the
    * first shuffle in the whole pipeline is the (band, code) grouping of
    * (id, fingerprint) rows.
    */
  def qSimhashPortable(
      t: Tables, maxHamming: Int = 3, maxBucket: Int = 100): DataFrame =
    simhashPortablePairsFromFp(portableFpCache(t), maxHamming, maxBucket)

  /** The documents table's portable-simhash fingerprint frame (id, f)
    * behind a build-once session cache: the banded pair query probes it
    * directly and the dedup funnel re-attaches it to the exact-dedup
    * survivors by id (the fingerprint is a pure per-row function of the
    * text, so a subset's fingerprints are a semi-join away — an MD5 +
    * vote loop per word is the expensive part, not the join).
    * Cache-owned — callers must not unpersist.
    */
  private val portableFpCache = graft.Engine.DirCache.frame(t =>
    graft.Engine.spread(
      t.documents.select(col("doc_id").as("id"), col("text")))
      .select(col("id"), portableSimhashCol(col("text")).as("f")))

  /** [[qSimhashPortable]]'s pipeline on any (id, text) frame. */
  def simhashPortablePairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val fp = graft.Engine.spread(
      docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), portableSimhashCol(col("text")).as("f"))
      // consumed by the banding pass AND the verify join-back
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = simhashPortablePairsFromFp(fp, maxHamming, maxBucket)
    fp.unpersist(false)
    out
  }

  /** Banding + hamming verify over an already-materialized fingerprint
    * frame (cached or caller-persisted — this layer neither persists nor
    * frees it).
    */
  private[graft] def simhashPortablePairsFromFp(
      fp: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val banded = fp.select(col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("f"), 15 * b).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band", "code")))
    val pairs = bucketPairs(cappedMembers(banded.groupBy("band", "code"), maxBucket))

    val candIds = pairs.select(col("id1").as("id"))
      .union(pairs.select(col("id2").as("id")))
      .distinct()
    val candFp = fp.join(broadcast(candIds), "id")
    pairs
      .join(candFp.toDF("id1", "f1"), "id1")
      .join(candFp.toDF("id2", "f2"), "id2")
      .withColumn("hamming", expr("CAST(bit_count(f1 ^ f2) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
      .orderBy("id1", "id2")
      .loopCheckpoint()
  }

  /** The corpus-dedup FUNNEL end-to-end, as one graded query — the
    * composition a training-data pipeline actually runs nightly:
    *
    *  1. exact dedup on md5(normalized text), keep-lowest-id;
    *  2. near-dup pairs among the exact survivors via the PORTABLE
    *     simhash ([[simhashPortablePairs]]: banded candidates, capped
    *     buckets, hamming verify);
    *  3. duplicate groups by min-label [[connectedComponents]], cluster
    *     representative = lowest id;
    *  4. per-source retention report: docs in, exact drops, near drops,
    *     survivors.
    *
    * Every stage is integer/hash-exact, so the WHOLE funnel hash-checks
    * against a single SQL replay (exact-keeper CTE -> fingerprint CTE ->
    * banded pairs -> recursive-CTE closure -> survivor rollup).
    *
    * Scale: stage 1 is one hash shuffle on the text hash; stage 2 is the
    * banded-LSH plan (nothing quadratic, buckets capped); stage 3 rounds
    * are edge-list joins with checkpointed lineage; the report aggregates
    * are source-dimension-sized. The funnel ordering (exact BEFORE near)
    * is the cost lever: exact-dup clusters collapse to one member each
    * before any banding, so boilerplate-heavy corpora shrink the
    * candidate volume instead of inflating it.
    */
  def qDedupPipeline(
      t: Tables, maxHamming: Int = 3, maxBucket: Int = 100): DataFrame =
    dedupVerdicts(t, maxHamming, maxBucket)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("action") === "drop_exact").cast("long"))
          .cast("long").as("n_exact_dropped"),
        sum((col("action") === "drop_near").cast("long"))
          .cast("long").as("n_near_dropped"),
        sum((col("action") === "keep").cast("long"))
          .cast("long").as("n_survivors"))
      .orderBy("source")

  /** Per-document funnel VERDICTS — the shared core of the graded
    * end-to-end pipeline: each doc is `drop_exact` (a non-lowest member
    * of an md5 text class, keeper = the class min), `drop_near` (an
    * exact survivor whose near-dup component root is another doc,
    * keeper = the root), or `keep` (keeper = itself). [[qDedupPipeline]]
    * rolls these up per source; [[qDedupManifest]] emits them per doc.
    *
    * Scale: one md5 hash-aggregate, the banded-LSH plan over exact
    * survivors (fingerprints from the session fp cache — an id-keyed
    * join, not a second per-word MD5 pass; at 100 TB both sides
    * hash-shuffle on id once), CC rounds on the pair edge list, then one
    * doc-keyed left join to attach components. Verdict frame is
    * materialized once for its consumers.
    */
  private[graft] def dedupVerdicts(
      t: Tables, maxHamming: Int = 3, maxBucket: Int = 100): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
      .withColumn("h", md5(lower(trim(col("text")))))
    val exactKeep = docs.groupBy("h").agg(min("doc_id").as("keep_id"))
    // (doc_id, source, keep_id) feeds two consumers (keeper ids, the
    // verdict join) — persist so the md5 groupBy + join runs once. Text
    // is NOT carried: survivor fingerprints come from the session fp
    // cache below.
    val marked = docs.join(exactKeep, "h")
      .select(col("doc_id"), col("source"), col("keep_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = marked.filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id").as("id"))
    val keeperFp = graft.Engine.loopCheckpoint(
      portableFpCache(t).join(keepers, "id"))
    val pairs = simhashPortablePairsFromFp(keeperFp, maxHamming, maxBucket)
    val comp = connectedComponents(pairs.select("id1", "id2"))
    val out = marked
      .join(comp.toDF("doc_id", "comp"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") =!= col("keep_id"), lit("drop_exact"))
          .when(col("comp").isNotNull && col("comp") =!= col("doc_id"),
            lit("drop_near"))
          .otherwise(lit("keep")).as("action"),
        when(col("doc_id") =!= col("keep_id"), col("keep_id"))
          .when(col("comp").isNotNull && col("comp") =!= col("doc_id"),
            col("comp"))
          .otherwise(col("doc_id")).as("keeper_id"))
      .loopCheckpoint()
    marked.unpersist(false)
    graft.Engine.freeCheckpoint(keeperFp)
    graft.Engine.freeCheckpoint(comp)
    graft.Engine.freeCheckpoint(pairs)
    out
  }

  /** The dedup MANIFEST — the per-document decision table the whole
    * funnel exists to produce: action, keeper to merge into, and the
    * duplicated-span token count a rewrite pass would additionally cut
    * from the doc ([[graft.ext.TextAnalysis.qSpanRewrite]]'s accounting)
    * — the executable artifact a corpus-materialization job consumes,
    * completing the weights→plan pattern of [[graft.ext.Sampling
    * .qMixSchedule]].
    *
    * Scale: the verdict frame plus one doc-keyed join against the
    * span-rewrite counts — doc-count rows, no new fact-sized stage.
    */
  def qDedupManifest(t: Tables): DataFrame =
    dedupVerdicts(t)
      .join(graft.ext.TextAnalysis.qSpanRewrite(t)
        .select(col("doc_id"), col("n_tokens"),
          col("n_removed").as("n_span_tokens_cut")), "doc_id")
      .select(col("doc_id"), col("source"), col("action"),
        col("keeper_id"), col("n_tokens"), col("n_span_tokens_cut"))
      .orderBy("doc_id")

  /** Edge count up to which [[connectedComponents]] runs driver-side
    * union-find instead of the distributed loop.
    */
  private val LocalComponentsCutoff = 32768L

  /** Connected components over an undirected duplicate-pair edge list by
    * min-label propagation — the step that turns pairwise near-dup output
    * (minhash / simhash / embedding) into dedup GROUPS with a keep-one
    * representative (component = min doc id), mirroring the reference's
    * keep-first drop_duplicates semantics (etl_pipeline.py:185) at
    * set-of-near-dups granularity.
    *
    * Scale shape: each round is one distributed join + min-aggregate on the
    * edge list; the driver loop only orchestrates rounds and reads a
    * convergence COUNT (never data rows). Duplicate clusters are
    * near-cliques, so propagation converges in 2-3 rounds regardless of
    * corpus size; `maxIter` caps adversarial chains. Labels persist per
    * round and the previous round unpersists once the next is materialized.
    */
  def connectedComponents(
      edges: DataFrame, maxIter: Int = 40,
      forceDistributed: Boolean = false): DataFrame = {
    // Adaptive small-graph path — the same size-based plan switch AQE
    // makes for broadcast joins: an edge list under the cutoff (32768
    // edges, ~0.5 MB — duplicate-pair graphs are SPARSE relative to
    // their corpus, so even large corpora often land here) is index
    // metadata, not data; collecting it and running driver union-find
    // replaces ~7 distributed rounds (each a join + agg + checkpoint +
    // witness job) with two jobs. Over the cutoff, the distributed
    // min-label loop below runs unchanged — same labels either way
    // (min-id components are unique), property-tested against each other.
    // `forceDistributed` pins the 100 TB code path regardless of the
    // cutoff — [[qDedupClustersDist]] grades that path with a full hash
    // oracle at every scale factor (a cutoff-sized test corpus would
    // otherwise only ever exercise the driver branch in the graded run).
    // edges arrive checkpointed per the contract below, so the count is a
    // cached-block scan, not a recompute
    if (!forceDistributed && edges.count() <= LocalComponentsCutoff)
      return localComponents(edges)
    // NOTE: convergence is detected by a round whose labels don't change,
    // so the usable budget is maxIter - 1 rounds (the last confirms).
    // The pointer jump below roughly doubles the chain depth covered per
    // round on path-like graphs, but on chain-of-cluster structures the
    // measured growth is slower (the sf0.1 SemDeDup similarity graph, a
    // 103-node component of chained neighborhoods, needs 20 rounds), so
    // the budget is generous: unused rounds cost nothing because the
    // sum-witness breaks the loop at convergence, and a too-small budget
    // is a hard failure by design (labels still merging would silently
    // disagree with the exact oracle).
    // localCheckpoint (not persist) per round: iterative plans otherwise
    // grow lineage every round and each round pays fresh codegen for an
    // ever-bigger tree. On a cluster with fault-tolerance needs this
    // becomes a reliable checkpoint — same loop. The caller should pass an
    // already-checkpointed/cached edge frame; `sym` and the initial labels
    // stay lazy views of it (re-deriving them from cached edge blocks is
    // cheaper than materializing two more checkpoints).
    val sym = edges.select(col("id1").as("src"), col("id2").as("dst"))
      .union(edges.select(col("id2").as("src"), col("id1").as("dst")))
    // min-propagation is monotone (a label only ever decreases), so the
    // label sum is a convergence witness — one aggregate per round, no
    // old-vs-new join
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum("comp")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0) // empty edge list -> null sum
    }
    val init = graft.Engine.loopCheckpointWith(
      sym.select(col("src").as("id"), col("src").as("comp")).distinct())(labelSum)
    var labels = init._1
    var lastSum = init._2
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val prop = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"))
        .union(labels)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jump: follow the freshly-propagated label one more hop
      // (comp of comp). Labels are node ids and `prop` carries EVERY node
      // id (the union above), so the parent lookup is an inner self-join
      // on the node-sized label frame — cheap next to the edge join — and
      // it roughly doubles the chain depth covered per round: neighbor
      // propagation alone is O(diameter) rounds (a 1 500-doc near-dup
      // CHAIN component measured diameter 21 on the sf0.1 corpus — real
      // corpora chain through boilerplate just like this), jumping makes
      // it O(log diameter). Monotone (comp(comp) <= comp), so the
      // label-sum convergence witness is unchanged.
      // checkpoint once; the jump joins the frame with itself and a
      // lazy self-join of one plan trips attribute-dedup on the reused
      // lineage — two scans of the checkpointed RDD are cheaper anyway.
      // Both checkpoints are LAZY and the label-sum witness is the one
      // action that materializes them: one job per round, not three.
      // (Deeper jump chains per round — P⁴/P⁸, whether as chained lazy
      // checkpoints or as repeated references to the one lazy propM —
      // were both measured to wedge this loop: a not-yet-materialized
      // lazy localCheckpoint referenced from several join branches races
      // its own materialization. One doubling per round against a
      // twice-referenced checkpoint is the stable shape.)
      val propM = graft.Engine.lazyLoopCheckpoint(prop)
      val (next, s) = graft.Engine.loopCheckpointWith(
        propM
          .join(propM.toDF("pid", "pcomp"), col("comp") === col("pid"))
          .select(col("id"), col("pcomp").as("comp")))(labelSum)
      graft.Engine.freeCheckpoint(propM)
      done = s == lastSum
      lastSum = s
      // the superseded round's checkpoint blocks are dead once `next` is
      // materialized — free them instead of waiting for GC
      graft.Engine.freeCheckpoint(labels)
      labels = next
      i += 1
    }
    // a component chain with diameter > maxIter would return labels that
    // are still merging — surface it loudly instead of silently disagreeing
    // with an exact oracle
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter; raise maxIter)")
    labels
  }

  /** Driver union-find over a collected (bounded, see cutoff above) edge
    * list: path-compressed, larger root always attached beneath the
    * smaller, so every root IS its component's min id — identical output
    * to the distributed min-label loop.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select(col("id1").cast("long"), col("id2").cast("long"))
      .collect()
      .foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    parent.keys.toSeq.sorted
      .map(k => (k, find(k)))
      .toDF("id", "comp")
  }

  /** Near-dup clusters over the (oracle-checked) jaccard pair graph:
    * one row per duplicate group — keep id (min member), member count,
    * and the sorted member list.
    */
  def qDedupClusters(
      t: Tables, forceDistributed: Boolean = false): DataFrame = {
    // the pair frame arrives already checkpointed from the session cache
    // (shared with the jaccard report / agreement / threshold curve), so
    // the explode-join-jaccard pipeline never sits under the label
    // propagation rounds below — each round re-reads materialized edge
    // rows. The cache owns the checkpoint; do NOT free it here.
    val edges = ngramJaccardPairs(t).select("id1", "id2")
    val labels = connectedComponents(edges, forceDistributed = forceDistributed)
    val out = labels
      .groupBy("comp")
      .agg(
        count(lit(1)).as("n_members"),
        array_join(
          transform(array_sort(collect_list(col("id"))), x => x.cast("string")),
          ",").as("members"))
      .select(col("comp").as("keep_id"), col("n_members"), col("members"))
      .orderBy("keep_id")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(labels)
    out
  }

  /** Keep-BEST dedup: within each exact-near-dup group (same sorted
    * distinct-word fingerprint), keep the member with the highest quality
    * score instead of the lowest id — what a production pipeline actually
    * does when duplicates differ in cleanliness. Quality is the same
    * length/diversity/word-length blend as qQualityScore, rounded at 1e-9
    * so cross-engine float jitter cannot flip the argmax; ties break to
    * the lowest doc id. Emits only groups with real duplicates.
    *
    * Scale: fingerprint + quality are map-side; one hash aggregate on the
    * fingerprint does group sizing AND winner selection via a single
    * max(struct) — no window, no second pass.
    */
  def qDedupKeepBest(t: Tables): DataFrame = {
    val quality = round(TextAnalysis.qualityExpr(col("text")), 9)
    graft.Engine.spread(t.documents)
      .select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        quality.as("q"))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("doc_id")).as("negid"))).as("best"))
      .filter(col("n_members") >= 2)
      .select(
        col("fp"),
        col("n_members"),
        (-col("best.negid")).as("keep_id"),
        col("best.q").as("best_quality"))
      .orderBy("fp")
  }

  /** Benchmark decontamination: corpus documents sharing any word n-gram
    * with the benchmark/eval set (here the deterministic `doc_id % 97`
    * sample — in production, the held-out eval suites). Emits each
    * contaminated doc with its count of distinct shared n-grams — the
    * standard pre-training hygiene pass that keeps eval data out of the
    * training corpus.
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus and
    * BROADCASTS into the join, so the corpus-side gram stream never
    * shuffles; only matched (doc, gram) rows — contamination is rare by
    * construction — reach the per-doc aggregate. At 100 TB the gram join
    * key would be a 64-bit hash rather than the string (same plan shape);
    * strings are kept here so the DuckDB oracle can replay the join
    * exactly.
    */
  def qContamination(t: Tables, n: Int = 4): DataFrame = {
    // spread BEFORE the shingle projection: a small compressed parquet
    // scans as one task, which would serialize the gram construction
    val docs = graft.Engine.spread(t.documents).select(
      col("doc_id"), array_distinct(shingles(col("text"), n)).as("g"))
    val isBench = pmod(col("doc_id"), lit(97)) === 0
    val benchGrams = docs.filter(isBench)
      .select(explode(col("g")).as("gram")).distinct()
    docs.filter(!isBench)
      .select(col("doc_id"), explode(col("g")).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Exact word-set jaccard pairs over a deterministic sample, with a
    * document-frequency skew guard: words present in more than `maxDfFrac`
    * of a language's sampled docs (stop-words — exactly the hot keys that
    * skew the (lang, word) self-join) are dropped from BOTH the
    * intersection join and the set sizes, so the measure becomes jaccard
    * over discriminative tokens and the join's per-key fan-out stays flat
    * as the corpus scales. The df/stop-word tables are tiny and broadcast.
    * (Full pairwise remains the verifier inside LSH, not a scale path.)
    */
  def qNgramJaccard(t: Tables, maxDfFrac: Double = 0.5): DataFrame =
    ngramJaccardPairs(t, maxDfFrac).orderBy("id1", "id2")

  /** [[qNgramJaccard]] without the presentation sort — the form consumers
    * that only need the pair set (cluster building) should use. The
    * default-threshold pair set feeds FOUR graded queries (the jaccard
    * report, cluster building, the detector-agreement ensemble, and the
    * threshold curve), so it sits behind a build-once session cache;
    * non-default thresholds rebuild per call.
    */
  def ngramJaccardPairs(t: Tables, maxDfFrac: Double = 0.5): DataFrame =
    if (maxDfFrac == 0.5) jaccardPairsCache(t)
    else ngramJaccardPairsImpl(t, maxDfFrac)

  private val jaccardPairsCache =
    graft.Engine.DirCache.frame(t => ngramJaccardPairsImpl(t, 0.5))

  private def ngramJaccardPairsImpl(t: Tables, maxDfFrac: Double): DataFrame = {
    val docs = t.documents
      .filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id"), col("lang"), array_distinct(words(col("text"))).as("w"))

    val dw0 = docs.select(col("doc_id"), col("lang"), explode(col("w")).as("word"))
    val nDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val hot = dw0.groupBy("lang", "word").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs), "lang")
      .filter(col("df") > col("n_docs") * maxDfFrac)
      .select("lang", "word")
    val dw = dw0.join(broadcast(hot), Seq("lang", "word"), "left_anti")
    // set sizes are recomputed AFTER the stop-word filter so the jaccard
    // denominator matches the filtered universe
    val sized = dw.groupBy("doc_id", "lang").agg(count(lit(1)).cast("double").as("nw"))
    val dwn = dw.join(broadcast(sized), Seq("doc_id", "lang"))

    val a = dwn.select(col("doc_id").as("id1"), col("lang"), col("nw").as("n1"), col("word"))
    val b = dwn.select(col("doc_id").as("id2"), col("lang"), col("nw").as("n2"), col("word"))
    a.join(b, Seq("lang", "word"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).cast("double").as("inter"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select("id1", "id2", "jaccard")
  }

  /** Ensemble agreement between two EXACT near-dup detectors on the same
    * document sample: set-overlap (n-gram Jaccard ≥ 0.3, from
    * [[ngramJaccardPairs]] — including its df hot-word guard) vs
    * tf-weighted cosine (≥ 0.6) over the identically guarded token
    * streams. The cosine threshold is pure integer arithmetic —
    * `cos ≥ 0.6 ⇔ 25·dot² ≥ 9·Σtf1²·Σtf2²` — so neither detector owns a
    * float anywhere, and the agreement row (pair counts + pair-set
    * Jaccard) is engine-exact. The methods disagree exactly where
    * weighting matters (repeated tokens), which is what the overlap
    * metric surfaces; both sides share one sample, one guard, and the
    * word-keyed join shape that scales them.
    */
  def qDedupAgreement(t: Tables): DataFrame = {
    val jac = ngramJaccardPairs(t).select("id1", "id2")
    val docs = t.documents
      .filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
    val dw0 = docs.select(col("doc_id"), col("lang"),
      explode(col("w")).as("word"))
    val nDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // the guard counts DISTINCT docs per word — identical to the jaccard
    // side's definition, so both detectors see the same filtered universe
    val hot = dw0.select("doc_id", "lang", "word").distinct()
      .groupBy("lang", "word").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs), "lang")
      .filter(col("df") > col("n_docs") * 0.5)
      .select("lang", "word")
    val tf = dw0.join(broadcast(hot), Seq("lang", "word"), "left_anti")
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
    val sized = tf.groupBy("doc_id", "lang")
      .agg(sum(expr("tf * tf")).as("ss"))
    val tfn = tf.join(broadcast(sized), Seq("doc_id", "lang"))
    val a = tfn.select(col("doc_id").as("id1"), col("lang"), col("word"),
      col("tf").as("tf1"), col("ss").as("s1"))
    val b = tfn.select(col("doc_id").as("id2"), col("lang"), col("word"),
      col("tf").as("tf2"), col("ss").as("s2"))
    val cos = a.join(b, Seq("lang", "word"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2", "s1", "s2")
      .agg(sum(expr("tf1 * tf2")).as("dot"))
      .filter(expr("25 * dot * dot >= 9 * s1 * s2"))
      .select("id1", "id2")
    jac.withColumn("mj", lit(1L))
      .join(cos.withColumn("mc", lit(1L)), Seq("id1", "id2"), "full_outer")
      .agg(
        sum(coalesce(col("mj"), lit(0L))).as("n_jaccard"),
        sum(coalesce(col("mc"), lit(0L))).as("n_cosine"),
        sum(when(col("mj").isNotNull && col("mc").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .withColumn("overlap",
        col("n_both").cast("double") /
          (col("n_jaccard") + col("n_cosine") - col("n_both")).cast("double"))
  }

  /** Dedup threshold tuning curve: how many candidate pairs (and how many
    * distinct documents) a jaccard cutoff would remove, per threshold step
    * — the dial a pipeline operator actually turns. One pass over the
    * exact-jaccard pair list (already linear via the df-guarded join);
    * each threshold row is a conditional aggregate, so the whole curve is
    * a single grouped scan of the pair frame, not one job per threshold.
    */
  def qDedupThresholdCurve(t: Tables, maxDfFrac: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(t, maxDfFrac)
    val steps = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    pairs
      .select(col("jaccard"), col("id2"),
        explode(array(steps.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("id2")).as("n_docs_removed"))
      .orderBy("threshold")
  }

  /** Cross-source contamination: pairs of sources sharing documents with
    * the same word-set fingerprint (TextAnalysis.fingerprint — sorted
    * distinct words, so trivial re-orderings still collide), with the
    * shared-fingerprint count. The self-join runs on the hash AFTER
    * per-(source, hash) distinct, so a hash's fan-out is bounded by the
    * source count (not its duplicate count) — boilerplate duplicated a
    * million times still contributes one row per source to the join.
    */
  def qCrossSourceOverlap(t: Tables): DataFrame = {
    val d = t.documents
      .select(col("source"), TextAnalysis.fingerprint(col("text")).as("h"))
      .distinct()
    d.select(col("source").as("source_a"), col("h"))
      .join(d.select(col("source").as("source_b"), col("h")), "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Estimated CONTENT overlap between source pairs — the sketch
    * companion to [[qCrossSourceOverlap]]'s exact whole-document
    * fingerprint counts: two sources can share zero identical documents
    * yet heavy shingle-level overlap (templated text, partial scrapes),
    * which is what drives cross-source dedup and mixture decisions.
    *
    * Per source, a k-minimum-values signature over 60-bit md5 3-gram
    * hashes (the portable hash, as in the KMV distinct sketch); per
    * source pair, the union-KMV Jaccard estimator: among the k smallest
    * hashes of the union of both signatures, the fraction present in
    * both. Exact integers + one IEEE division, so the estimates
    * hash-match the oracle.
    *
    * Scale: the corpus is scanned ONCE into (source, hash) rows with
    * map-side distinct; the bounded_topk partial aggregate puts k rows
    * per source per map task on the exchange, and everything after is
    * source-dimension-sized (pairs, signatures, estimates) — the corpus
    * never shuffles and never self-joins, which is the whole point of a
    * sketch at 100 TB.
    */
  def qSourceOverlap(t: Tables, k: Int = 128): DataFrame = {
    val h = expr("conv(substring(md5(g), 1, 15), 16, 10)").cast("long")
    // sigs is (sources × k) — checkpoint it so the three consumers below
    // (signature explode ×2 for the pair-tagged sides, source list) read
    // the tiny materialized frame instead of each re-running the full
    // corpus shingle/md5/bounded_topk pass (round 10: the plan showed 3
    // parquet scans of documents; now 1 — guide §3.3 "materialise an
    // intermediate", §2.3 "shuffle keys, not payloads")
    val sigs = graft.Engine.loopCheckpoint(t.documents
      .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
      .select(col("source"), h.as("h"))
      .distinct()
      .groupBy("source")
      .agg(call_function("bounded_topk",
        struct(lit(0.0), col("h")), lit(k), lit(true)).as("top"))
      .select(col("source"),
        transform(col("top"), x => x.getField("id")).as("sig")))
    val e = sigs.select(col("source"), explode(col("sig")).as("h"))
    val srcs = sigs.select("source")
    val pairs = srcs.toDF("sa")
      .crossJoin(srcs.toDF("sb"))
      .filter(col("sa") < col("sb"))
    val left = e.toDF("sa", "h").join(broadcast(pairs), "sa")
      .select(col("sa"), col("sb"), col("h"),
        lit(1).as("ia"), lit(0).as("ib"))
    val right = e.toDF("sb", "h").join(broadcast(pairs), "sb")
      .select(col("sa"), col("sb"), col("h"),
        lit(0).as("ia"), lit(1).as("ib"))
    val wPair = Window.partitionBy("sa", "sb").orderBy("h")
    left.union(right)
      .groupBy("sa", "sb", "h")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
      .withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= k)
      .groupBy("sa", "sb")
      .agg(
        count(lit(1)).as("n_union_k"),
        sum(when(col("ia") === 1 && col("ib") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_both"))
      .withColumn("jaccard_est",
        col("n_both").cast("double") / col("n_union_k").cast("double"))
      .orderBy("sa", "sb")
  }

  /** Blocked candidate pairs over part names — the shared front end of
    * the fuzzy-matching family ([[qFuzzyNames]], [[qJaroNames]],
    * [[qEntityResolution]]). Two defenses keep the in-block quadratic
    * bounded as data grows:
    *
    *  1. the block key is (brand, first token, second token) — the
    *     coarser (brand, first-token) key has a FIXED key domain on this
    *     vocabulary, so its block sizes grow linearly with the table and
    *     the in-block self-join quadratically; adding the second token
    *     scales the key domain with the data. Every >= 0.93 Jaro-Winkler
    *     pair at both test SFs shares its second token, so the refinement
    *     does not change results (single-token names keep an '' key on
    *     both sides rather than a null that would un-pair them);
    *  2. `maxBlock` drops blocks that are still pathological after the
    *     refinement (a boilerplate name flooding one key) — the same
    *     cap-the-bucket semantics as [[minhashPairs]]'s `maxBucket`,
    *     mirrored in the DuckDB oracles so both engines cut identically.
    *     It never binds at test scale (max block 26 at sf0.1 vs cap 2000).
    */
  private[graft] def nameBlockPairs(t: Tables, maxBlock: Int = 2000): DataFrame =
    nameBlockPairsOf(t.part, maxBlock)

  private[graft] def nameBlockPairsOf(part: DataFrame, maxBlock: Int): DataFrame = {
    val p = part.select(
      col("p_partkey"), col("p_brand"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("w1"),
      coalesce(split(col("p_name"), " ").getItem(1), lit("")).as("w2"))
    val ok = p.groupBy("p_brand", "w1", "w2")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBlock)
      .select("p_brand", "w1", "w2")
    // the block-key whitelist is key-domain-sized (tiny) — broadcast it
    val pc = p.join(broadcast(ok), Seq("p_brand", "w1", "w2"), "left_semi")
    val a = pc.select(col("p_brand"), col("w1"), col("w2"),
      col("p_partkey").as("id1"), col("p_name").as("name1"))
    val b = pc.select(col("p_brand"), col("w1"), col("w2"),
      col("p_partkey").as("id2"), col("p_name").as("name2"))
    a.join(b, Seq("p_brand", "w1", "w2"))
      .filter(col("id1") < col("id2"))
  }

  /** Fuzzy record dedup by edit distance under blocking: candidate pairs
    * share the capped [[nameBlockPairs]] block key, then
    * levenshtein <= maxDist confirms. Blocking is what makes fuzzy matching
    * scale — the quadratic comparison runs only inside bounded blocks,
    * never across the whole table.
    */
  def qFuzzyNames(t: Tables, maxDist: Int = 3): DataFrame =
    nameBlockPairs(t)
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id1", "id2", "dist")
      .orderBy("id1", "id2")

  /** Jaro-Winkler fuzzy matching over the same capped [[nameBlockPairs]]
    * blocks, through the native `jaro_winkler` expression (codegen'd,
    * DuckDB-bit-exact — see [[graft.functions.JaroWinklerImpl]]).
    * Similarity is rounded at 1e-6 BEFORE thresholding so the cut is taken
    * on a value both engines agree on exactly.
    */
  def qJaroNames(t: Tables, minSim: Double = 0.93): DataFrame =
    jaroPairs(nameBlockPairs(t), minSim).orderBy("id1", "id2")

  private[graft] def jaroPairs(pairs: DataFrame, minSim: Double): DataFrame =
    pairs
      .withColumn("sim", round(expr("jaro_winkler(name1, name2)"), 6))
      .filter(col("sim") >= minSim)
      .select("id1", "id2", "sim")

  /** End-to-end entity resolution over part names, composing the graded
    * building blocks into one pipeline: blocked Jaro-Winkler candidate
    * pairs ([[nameBlockPairs]] — quadratic work confined to capped
    * (brand, token1, token2) buckets) → min-label connected components
    * ([[connectedComponents]]) → canonical-record survivorship per cluster
    * (longest name, ties to the lowest key — the same max-of-struct
    * single-aggregate shape as [[qDedupKeepBest]], no ranking window).
    * The oracle re-derives all three stages independently: DuckDB's own
    * jaro_winkler_similarity, a recursive-CTE closure, and a ranked
    * survivor — three different algorithms, one hash.
    */
  def qEntityResolution(t: Tables, minSim: Double = 0.93): DataFrame = {
    // the un-sorted pair form: edges are unordered CC input, so skip
    // qJaroNames' presentation sort
    val edges = jaroPairs(nameBlockPairs(t), minSim)
      .select("id1", "id2").loopCheckpoint()
    val labels = connectedComponents(edges)
    val named = labels.join(
      t.part.select(col("p_partkey").as("id"), col("p_name")), "id")
    val out = named
      .groupBy("comp")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(length(col("p_name")).cast("long").as("l"),
          (-col("id")).as("negid"), col("p_name").as("nm"))).as("best"),
        array_join(
          transform(array_sort(collect_list(col("id"))), _.cast("string")),
          ",").as("members"))
      .select(col("comp").as("cluster_id"), col("n_members"),
        (-col("best.negid")).as("canonical_id"),
        col("best.nm").as("canonical_name"), col("members"))
      .orderBy("cluster_id")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(labels)
    graft.Engine.freeCheckpoint(edges)
    out
  }

  /** Incremental-ingest dedup: an arriving batch (here every 10th doc)
    * checked against the existing corpus by exact 3-gram-set Jaccard. The
    * batch side — by construction a small fraction of the corpus — is the
    * BROADCAST side of the gram join, so the existing corpus computes its
    * grams map-side and never shuffles; the only exchange is the candidate
    * (new, old) pair aggregation. This is the nightly-ingest shape: at
    * 100 TB corpus + 100 GB batch, cost is one corpus scan, not a corpus
    * self-join (contrast [[qNgramJaccard]], the full pairwise variant).
    */
  def qDedupIncremental(
      t: Tables, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val d = t.documents.select(col("doc_id"),
      array_distinct(shingles(col("text"), n)).as("g"))
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("id_new"), size(col("g")).as("n_new"),
        explode(col("g")).as("gram"))
    val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id").as("id_old"), size(col("g")).as("n_old"),
        explode(col("g")).as("gram"))
    corpus.join(broadcast(batch), "gram")
      .groupBy("id_new", "id_old", "n_new", "n_old")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_new").cast("long") + col("n_old") - col("inter"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("inter"), col("jaccard"))
      .orderBy("id_new", "id_old")
  }

  /** The cost case for exact dedup, per source: duplicate documents AND
    * the tokens they'd burn if trained on — the report that justifies the
    * dedup pass to whoever pays for the compute. Duplicates are the
    * global keep-lowest-id md5 groups ([[qDedupExact]]'s definition), so
    * a doc duplicated ACROSS sources is charged to the copies' sources,
    * not the original's. `pct_saved` divides two exact integer sums —
    * bit-identical across engines, no rounding.
    *
    * Scale: one hash shuffle on the text hash (the dedup group), one
    * source-dimension rollup; token counting is map-side.
    */
  def qDedupSavings(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      md5(lower(trim(col("text")))).as("h"))
    val keep = docs.groupBy("h").agg(min("doc_id").as("keep_id"))
    docs.join(keep, "h")
      .withColumn("dup", (col("doc_id") =!= col("keep_id")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("dup").as("n_dup_docs"),
        sum("n_tokens").as("tokens_total"),
        sum(col("n_tokens") * col("dup")).as("tokens_dupe"))
      .withColumn("pct_saved",
        col("tokens_dupe").cast("double") / col("tokens_total").cast("double"))
      .orderBy("source")
  }
}
