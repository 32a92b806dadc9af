package graft.ext

import graft.Engine.LoopCheckpointOps
import graft.Tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set and
  * stream the corpus once; per-pair cosine is a codegen'd higher-order
  * zip/aggregate fold, no UDFs. Scale path: IVF — partition the corpus into
  * coarse cells (here the provided `label`, in general k-means centroids),
  * assign each query to its nearest cell(s), and search only those buckets;
  * the probe joins on the cell key so the corpus-side scan prunes.
  *
  * Numeric note: floats are cast to double BEFORE any arithmetic, and the
  * fold runs left-to-right in array order — deterministic IEEE sequence, so
  * an engine replaying the same order (DuckDB list_sum over the same
  * transform) produces bit-identical cosines.
  */
object Similarity {

  /** Elementwise dot product of two double arrays (sequential fold) —
    * reference formulation via higher-order functions; kept for parity
    * tests against the native expression.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** HOF cosine (interpreted lambdas; parity baseline). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine ([[graft.functions.CosineSim]]) — same
    * sequential accumulation order, so bit-identical to cosineHof and to
    * the DuckDB oracle; ~10x faster on the 25M-pair kNN stage.
    */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force cosine top-k: queries = every 200th vector. Broadcast the
    * query side (it is the small one), scan the corpus once, rank per query.
    */
  def qKnnBrute(t: Tables, k: Int = 5): DataFrame = {
    val corpus = t.embeddings
      .select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nvec"))
    val queries = t.embeddings
      .filter(pmod(col("vec_id"), lit(200)) === 0)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qvec"))
    // ranking via the bounded top-k aggregate: the 25M-similarity stream is
    // reduced to k rows per (query, map task) BEFORE the shuffle — a
    // ranking window here would exchange every similarity row
    corpus
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qvec"), col("nvec")))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("nid")), lit(k), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        col("item.score").as("sim"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Embedding drift per label: PSI of each label's squared-norm
    * distribution against the corpus — the vector-column member of the
    * drift family ([[graft.ext.TextAnalysis.qPsiDrift]] watches text
    * lengths; this watches whether one class's embeddings are shifting
    * in magnitude, the cheap first symptom of an upstream encoder or
    * preprocessing change). The squared norm is an EXACT integer in
    * milli²-units (left-fold of m·m over the quantized vector — every
    * partial stays far under 2⁵³), so binning is integer division and
    * the histogram is engine-exact; the PSI epilogue runs on the
    * (labels × bins) frame like its text twin.
    */
  def qEmbedDrift(t: Tables, binWidth: Long = 100000L): DataFrame = {
    val counts = t.embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"),
        expr("""CAST(aggregate(
            transform(CAST(embedding AS ARRAY<DOUBLE>),
              x -> floor(x * 1000.0 + 0.5) * floor(x * 1000.0 + 0.5)),
            0D, (a, x) -> a + x) AS BIGINT)""").as("n2"))
      .withColumn("bin", expr(s"n2 div ${binWidth}L"))
      .groupBy("label", "bin")
      .agg(count(lit(1)).as("k"))
    val tot = counts.agg(sum("k").as("all_n"))
    counts
      .withColumn("src_n",
        sum("k").over(org.apache.spark.sql.expressions.Window
          .partitionBy("label")))
      .withColumn("bin_n",
        sum("k").over(org.apache.spark.sql.expressions.Window
          .partitionBy("bin")))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("k").cast("double") / col("src_n").cast("double"))
      .withColumn("q",
        col("bin_n").cast("double") / col("all_n").cast("double"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_bins"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 9)
          .as("psi"))
      .orderBy("label")
  }

  /** Hard-negative mining — for each probe query, the top-k most similar
    * corpus vectors with a DIFFERENT label: the contrastive-training
    * primitive (an embedding model trains fastest on negatives that look
    * like positives, and this is exactly the query that finds them).
    * Identical plan shape to [[qKnnBrute]] — broadcast query side, one
    * corpus scan, `bounded_topk` reducing the similarity stream to k rows
    * per (query, map task) BEFORE any exchange — with the label-mismatch
    * predicate fused into the scan-side filter.
    */
  def qHardNegatives(t: Tables, k: Int = 5, qMod: Int = 200): DataFrame = {
    val corpus = t.embeddings
      .select(col("vec_id").as("nid"), col("label").as("nlabel"),
        asDouble(col("embedding")).as("nvec"))
    val queries = t.embeddings
      .filter(pmod(col("vec_id"), lit(qMod)) === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        asDouble(col("embedding")).as("qvec"))
    corpus
      .crossJoin(broadcast(queries))
      .filter(col("nlabel") =!= col("qlabel"))
      .withColumn("sim", cosine(col("qvec"), col("nvec")))
      .groupBy("qid", "qlabel")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("nid")), lit(k), lit(true)).as("top"))
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
        posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"), col("qlabel"),
        col("item.id").as("nid"),
        col("item.score").as("sim"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Nearest-centroid cell id for a vector, against a LITERAL centroid set:
    * a pure projection (argmax of k cosines via the native
    * [[graft.functions.NearestCentroid]]), no join and no shuffle — the
    * corpus-side assignment shape that survives 100 TB. Ties break to the
    * lowest cell id (first max wins), bit-identical to the
    * k-separate-cosines formulation it replaces but with ONE boxed centroid
    * literal instead of k inlined 64-element literals — the Lloyd's loop no
    * longer pays a fresh large Janino compile per round.
    */
  private def nearestCell(vec: Column, cents: Seq[Array[Double]]): Column =
    call_function("nearest_centroid", vec, typedLit(cents.map(_.toSeq)))

  /** Elementwise mean vector per cell via the native [[graft.functions
    * .VectorSum]] partial aggregate (one hash aggregate with map-side
    * combine, so exactly k rows cross the exchange), collected to the
    * driver, in the EXACT integer micro-unit domain: inputs are
    * floor(x*1e6) values (integer-valued doubles), so every partial sum
    * vector_sum produces is an exact integer below 2^53 — the aggregate
    * is order-independent and bit-identical under any partitioning, task
    * schedule, or cluster topology. Centroid element = floor(sum / n),
    * kept in micro-units: the next round's argmax runs integer-exact dot
    * products, so the whole Lloyd's loop is reproducible — and replayable
    * by a DuckDB oracle as unrolled CTE rounds (float vector means are
    * summation-tree-dependent and never are).
    */
  private def cellFloorMeans(assigned: DataFrame): Map[Int, Array[Double]] =
    assigned
      .groupBy("cell")
      .agg(
        call_function("vector_sum", col("mu")).as("s"),
        count(when(col("mu").isNotNull && size(col("mu")) > 0, lit(1)))
          .as("n"))
      .collect()
      .iterator
      .filter(r => !r.isNullAt(1) && r.getLong(2) > 0L)
      .map { r =>
        val n = r.getLong(2).toDouble
        r.getInt(0) -> r.getSeq[Double](1).map(s => math.floor(s / n)).toArray
      }
      .toMap

  /** K-means coarse centroids by Lloyd's iterations over a deterministic
    * training sample (every `trainMod`-th vector — index builds train on a
    * sample at scale, then assign the full corpus once). Initialization is
    * the per-`label` means; each round is one map-only assignment pass into
    * a single vector_sum aggregate, with the tiny centroid set
    * round-tripped through the driver — the corpus itself never shuffles.
    * The sample is checkpointed once ([[graft.Engine.loopCheckpoint]]) so
    * each round re-reads materialized rows instead of re-running the
    * scan + cast lineage.
    */
  def lloydCentroids(
      emb: DataFrame, iters: Int = 3, trainMod: Int = 2): Seq[Array[Double]] =
    lloydCentroidsExact(
      emb.withColumn("mu",
        transform(col("vec"), x => floor(x * lit(1000000.0)).cast("double"))),
      iters, trainMod)
      .map(_.map(_ / 1e6))

  /** The Lloyd's loop itself, in EXACT integer micro-units: `emb` carries
    * `mu` (floor(vec*1e6), integer-valued doubles) and the returned
    * centroids stay in micro-units. Every cross-row sum is an exact
    * integer (see [[cellFloorMeans]]) and every per-row argmax folds
    * exact-integer products, so the trained index is bit-deterministic
    * under any partitioning or cluster topology — reproducible index
    * builds at 100 TB, and a query plan a DuckDB oracle can replay
    * round-for-round. Convergence is exact integer equality of
    * consecutive centroid sets (no epsilon needed in an exact domain).
    */
  def lloydCentroidsExact(
      emb: DataFrame, iters: Int = 3, trainMod: Int = 2): Seq[Array[Double]] = {
    val train = emb.filter(pmod(col("vec_id"), lit(trainMod)) === 0)
      .select(col("label").cast("int").as("init_cell"), col("mu"))
      .loopCheckpoint()
    try {
      val init =
        cellFloorMeans(train.select(col("init_cell").as("cell"), col("mu")))
      var cents: Seq[Array[Double]] = init.toSeq.sortBy(_._1).map(_._2)
      var moved = true
      var i = 0
      while (moved && i < iters) {
        val assigned = train.select(
          nearestCell(col("mu"), cents).as("cell"), col("mu"))
        val means = cellFloorMeans(assigned)
        // a cell that lost all members keeps its previous centroid
        val next = cents.indices.map(j => means.getOrElse(j, cents(j)))
        // early stop once assignments are stable — exact equality, so a
        // stable round is a provable no-op (the unrolled oracle rounds
        // reproduce it as identity)
        moved = cents.zip(next).exists { case (a, b) =>
          !java.util.Arrays.equals(a, b)
        }
        cents = next
        i += 1
      }
      cents
    } finally graft.Engine.freeCheckpoint(train)
  }

  /** The session's shared IVF coarse index: [[lloydCentroidsExact]] over
    * the corpus micro-unit vectors, memoized per (session, dataset dir).
    * Training is bit-deterministic given the data, so one build serves
    * every consumer — [[qKnnIvf]], [[qSemDedup]], [[qKnnIvfPq]] — exactly
    * the way a production pipeline trains a coarse quantizer once per
    * corpus version and fans out. Centroids are k x dim doubles (index
    * metadata): the value holds no frame.
    */
  private[graft] val ivfCentroidsCached = new graft.Engine.DirCache((t, _) =>
    lloydCentroidsExact(t.embeddings.select(
      col("vec_id"), col("label"),
      microUnits(col("embedding")).cast("array<double>").as("mu"))))

  /** IVF pruned search with LEARNED coarse centroids (Lloyd's iterations,
    * see [[lloydCentroids]]); each query probes its `nProbe` nearest
    * cells — the standard IVF recall lever (a query near a cell boundary
    * finds neighbors that fell just across it). Corpus rows compute their
    * cell id map-side against the literal centroid set and the (tiny)
    * probed query set broadcasts into the equi-join, so the corpus is
    * never shuffled; corpus cells are disjoint, so multi-probe never
    * duplicates a candidate. Output: per query, top-k within the probed
    * cells. Approximate by construction.
    *
    * The index side (training, probe ranking, corpus assignment) runs in
    * EXACT integer micro-units ([[lloydCentroidsExact]]): probe and
    * assignment similarities fold exact-integer products (micro-unit
    * vectors and centroids are both ~1e6 magnitude, so dots and norms
    * stay far below 2^53), making the whole cell structure
    * bit-deterministic and replayable by the DuckDB oracle as unrolled
    * Lloyd CTE rounds. Only the FINAL ranking similarity uses the raw
    * double vectors — a per-pair sequential fold the oracle replays with
    * list_sum, the same parity contract [[qKnnLshPortable]] is graded on.
    */
  def qKnnIvf(t: Tables, k: Int = 5, nProbe: Int = 2): DataFrame = {
    val emb = t.embeddings.select(
      col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"),
      microUnits(col("embedding")).cast("array<double>").as("mu"))
    val cents = ivfCentroidsCached(t)

    // per-query top-nProbe cells by centroid similarity (query side is
    // tiny, so the explode + ranking window cost nothing at corpus scale);
    // micro-domain cosine — scale-invariant, so cell choice matches the
    // raw-vector geometry to quantization precision, and exact
    val probes = array(cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(col("qmu"), typedLit(c.toSeq)).as("csim"), lit(i).as("cell"))
    }: _*)
    val wProbe = Window.partitionBy("qid").orderBy(col("csim").desc, col("cell"))
    val queries = emb
      .filter(pmod(col("vec_id"), lit(200)) === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"),
        col("mu").as("qmu"))
      .withColumn("pr", explode(probes))
      .select(col("qid"), col("qvec"), col("pr.csim").as("csim"),
        col("pr.cell").as("cell"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select("qid", "qvec", "cell")

    // probe only the assigned cell: equi-join on the cell key prunes the
    // corpus; the corpus side's cell id is a projection, not a shuffle.
    // Ranking via bounded_topk (same as brute/LSH): k rows per (query, map
    // task) cross the exchange instead of every candidate similarity
    emb
      .select(col("vec_id").as("nid"), col("vec"),
        nearestCell(col("mu"), cents).as("cell"))
      .join(broadcast(queries), "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("nid")), lit(k), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        col("item.score").as("sim"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** (band, bucket) keys from a packed hyperplane signature: band b's
    * bucket is its `bits` signature bits. Shared by the banded kNN search
    * and the big-cell sub-blocking in embedding dedup.
    */
  private def bandBuckets(sig: Column, bands: Int, bits: Int): Column = {
    val mask = (1L << bits) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bits).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
  }

  /** Embedding-cosine near-duplicate pairs, blocked by the coarse cell key
    * (label): the all-pairs comparison happens only within a cell, which is
    * the same pruning IVF uses. Cells larger than `maxCell` never go
    * all-pairs: they are sub-blocked by banded hyperplane-LSH buckets
    * (candidates = co-bucketed in any band, then exact-cosine verified), so
    * a million-vector cell costs O(n * bucketSize) instead of O(n^2). The
    * exact path and the verify step share the same `cosine >= threshold`
    * predicate, so for small cells output is identical to full all-pairs.
    */
  def qDedupEmbed(t: Tables, threshold: Double = 0.8, maxCell: Int = 2048): DataFrame = {
    val emb = t.embeddings.select(
      col("label"), col("vec_id"), asDouble(col("embedding")).as("v"))
    embedDupPairs(emb, threshold, maxCell).orderBy("id1", "id2")
  }

  /** Candidate pairs for over-cap cells via banded hyperplane sub-blocking
    * (exposed for the pair-count bound test). Band rows carry ids only —
    * the same shape as the MinHash band shuffle in [[Dedup.minhashPairs]].
    */
  def embedCandidatePairs(
      big: DataFrame, subBands: Int = 8, subBits: Int = 8): DataFrame = {
    val planes = subBands * subBits
    val banded = big
      .withColumn("sig", call_function("hyperplane_sig", col("v"), lit(planes)))
      .select(col("label"), col("vec_id"),
        explode(bandBuckets(col("sig"), subBands, subBits)).as("bb"))
      .select(col("label"), col("vec_id"), col("bb.band"), col("bb.bucket"))
    // bounded-buffer membership (Dedup.cappedMembers): a hot
    // (label, band, bucket) cell ships a capped handful of ids per map
    // task instead of its full posting list, and over-cap cells are
    // dropped instead of exploding quadratically. The cap is far above
    // any cell this corpus produces (hyperplane buckets spread ~uniform),
    // so test-scale results are unchanged; at 100 TB it is the same
    // guard minhashPairs' maxBucket provides.
    Dedup.bucketPairs(Dedup.cappedMembers(
      banded.select(col("label"), col("band"), col("bucket"),
          col("vec_id").as("id"))
        .groupBy("label", "band", "bucket"), maxSize = 512))
  }

  /** label-blocked near-dup pairs with the big-cell guard (see qDedupEmbed). */
  def embedDupPairs(emb: DataFrame, threshold: Double, maxCell: Int): DataFrame = {
    val sizes = emb.groupBy("label").agg(count(lit(1)).as("cell_n"))
    val withN = emb.join(broadcast(sizes), "label")

    // small cells: exact all-pairs within the cell
    val small = withN.filter(col("cell_n") <= maxCell)
    val a = small.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"))
    val b = small.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"))
    val smallPairs = a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("sim", cosine(col("v1"), col("v2")))
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")

    // big cells: LSH sub-block -> candidate pairs -> exact-cosine verify
    val big = withN.filter(col("cell_n") > maxCell).select("label", "vec_id", "v")
    val cands = embedCandidatePairs(big)
    val candIds = cands.select(col("id1").as("vec_id"))
      .union(cands.select(col("id2").as("vec_id")))
      .distinct()
    val candVecs = emb.join(broadcast(candIds), "vec_id").select("vec_id", "v")
    val bigPairs = cands
      .join(candVecs.toDF("id1", "v1"), "id1")
      .join(candVecs.toDF("id2", "v2"), "id2")
      .withColumn("sim", cosine(col("v1"), col("v2")))
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")

    smallPairs.unionAll(bigPairs)
  }

  /** The IVF-PQ candidate stream: per (query, candidate-in-a-probed-cell),
    * the exact-integer ADC distance and the PROBE RANK of the candidate's
    * cell in the query's probe order (cells are disjoint, so each
    * candidate matches exactly one rank). [[qKnnIvfPq]] ranks it at a
    * fixed nProbe; [[qIvfPqRecall]] slices it per nProbe for the recall
    * curve. Caller frees the returned checkpointed `rows` via the pair.
    */
  private def ivfPqCandidates(
      t: Tables, maxProbe: Int, subspaces: Int, subDim: Int, pqK: Int,
      rounds: Int, queryMod: Int): (DataFrame, DataFrame) = {
    val emb = t.embeddings.select(
      col("vec_id"), col("label"),
      microUnits(col("embedding")).cast("array<double>").as("mu"))
    val cents = ivfCentroidsCached(t)
    val centsLit = typedLit(cents.map(_.toSeq))
    def subSlices(rm: Column): Column =
      explode(array((0 until subspaces).map(s =>
        struct(lit(s).as("s"),
          slice(rm, s * subDim + 1, subDim).as("sub"))): _*))
    // corpus: assign, take the residual, slice into PQ sub-vectors
    val rows = emb
      .select(col("vec_id"), nearestCell(col("mu"), cents).as("ivf_cell"),
        col("mu"))
      .withColumn("rm",
        zip_with(col("mu"), element_at(centsLit, col("ivf_cell") + 1),
          (a, b) => a - b))
      .select(col("vec_id"), col("ivf_cell"), subSlices(col("rm")).as("e"))
      .select(col("vec_id"), col("ivf_cell"),
        col("e.s").as("s"), col("e.sub").as("sub"))
      .loopCheckpoint()
    val pqCents = pqTrain(rows, pqK, rounds, initCol = "vec_id")
    val codes = pqAssign(rows, pqCents)
      .select(col("vec_id").as("nid"), col("ivf_cell"), col("s"), col("cell"))
    // queries: top-maxProbe cells by centroid cosine (micro-domain,
    // exact), then one residual + distance table per probed cell
    val probes = array(cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(col("mu"), typedLit(c.toSeq)).as("csim"),
        lit(i).as("ivf_cell"))
    }: _*)
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("csim").desc, col("ivf_cell"))
    val qRows = emb
      .filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("qid"), col("mu"), explode(probes).as("pr"))
      .select(col("qid"), col("mu"), col("pr.csim").as("csim"),
        col("pr.ivf_cell").as("ivf_cell"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= maxProbe)
      .select(col("qid"), col("ivf_cell"), col("prank"),
        zip_with(col("mu"), element_at(centsLit, col("ivf_cell") + 1),
          (a, b) => a - b).as("rm"))
      .select(col("qid"), col("ivf_cell"), col("prank"),
        subSlices(col("rm")).as("e"))
      .select(col("qid").as("vec_id"), col("ivf_cell"), col("prank"),
        col("e.s").as("s"), col("e.sub").as("sub"))
    val qTables = pqDists(qRows, pqCents)
      .select(col("vec_id").as("qid"), col("ivf_cell"), col("prank"),
        col("s"), col("cell"), col("dist").as("tdist"))
    val cands = codes
      .join(broadcast(qTables), Seq("ivf_cell", "s", "cell"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(sum(col("tdist")).as("adc"), min(col("prank")).as("prank"))
    (cands, rows)
  }

  /** The session's shared IVF-PQ candidate frame at the DEFAULT index
    * configuration and maxProbe=3, checkpointed and memoized per
    * (session, dataset dir) — the encode-once/query-many shape of a
    * served ANN index: both the fixed-nProbe search ([[qKnnIvfPq]], a
    * prank<=2 slice) and the recall curve ([[qIvfPqRecall]]) read it.
    * Cache-owned; callers must not free. Slicing prank<=n from the
    * maxProbe=3 frame is identical to computing candidates at
    * maxProbe=n (cells are disjoint and prank is the probe order). The
    * encode-side `rows` intermediate is freed strictly AFTER the
    * candidate checkpoint materializes (freeing a localCheckpoint's
    * blocks is unrecoverable — lineage is already truncated).
    */
  private val ivfPqCandsCached = new graft.Engine.DirCache((t, _) => {
    val (cands, rows) = ivfPqCandidates(t, 3, 16, 4, 32, 2, 50)
    val m = cands.loopCheckpoint()
    graft.Engine.freeCheckpoint(rows)
    m
  })

  /** IVF-PQ search — the full production ANN composition: the IVF coarse
    * quantizer ([[lloydCentroidsExact]], the index [[qKnnIvf]] and
    * [[qSemDedup]] share) prunes each query to its `nProbe` nearest
    * cells, and within those cells candidates are ranked by PQ
    * asymmetric-distance ([[qPqSearch]]'s ADC) over RESIDUAL vectors
    * (member minus its cell centroid — the standard IVF-PQ encoding:
    * residuals are far smaller than raw vectors, so the same code budget
    * quantizes them more finely). Micro-unit vectors and floor-mean
    * centroids are both integer-valued, so residuals, PQ training,
    * distance tables, and every ADC sum stay exact integers — the whole
    * two-level index is bit-deterministic and fully hash-oracled.
    *
    * Scale shape: corpus rows compute their cell id map-side, encode once,
    * and thereafter move only (ivf_cell, subspace, code) — neither raw
    * vectors nor residuals ever cross a shuffle; the per-(query, probed
    * cell) distance tables broadcast into the code join, and
    * bounded_topk keeps k candidates per query per map task.
    */
  def qKnnIvfPq(
      t: Tables, topK: Int = 5, nProbe: Int = 2, subspaces: Int = 16,
      subDim: Int = 4, pqK: Int = 32, rounds: Int = 2,
      queryMod: Int = 50): DataFrame = {
    // the cache serves the default index config; other configs encode fresh
    val useCache = nProbe <= 3 && subspaces == 16 &&
      subDim == 4 && pqK == 32 && rounds == 2 && queryMod == 50
    val (cands, rows) =
      if (useCache)
        (ivfPqCandsCached(t).filter(col("prank") <= nProbe), null)
      else ivfPqCandidates(
        t, nProbe, subspaces, subDim, pqK, rounds, queryMod)
    val out = cands
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(negate(col("adc")), col("nid")), lit(topK), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        negate(col("item.score")).cast("long").as("adc_dist"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
      .loopCheckpoint()
    if (rows != null) graft.Engine.freeCheckpoint(rows)
    out
  }

  /** The IVF-PQ recall curve — recall@k vs exact L2 as a function of
    * nProbe, the operating lever every IVF deployment tunes (probe more
    * cells → higher recall, more candidates scanned). One candidate pass
    * at the maximum nProbe serves every curve point: a candidate's probe
    * rank decides which nProbe settings would have seen it, so the
    * per-setting rankings are window slices of one frame, not re-runs.
    * The exact baseline is brute-force integer-micro-unit L2 over the
    * (broadcast) query set — every distance, rank, and hit count is an
    * exact integer, so the whole curve is hash-oracled. Companion to
    * [[qAnnRecall]] (the LSH acceptance gate).
    */
  def qIvfPqRecall(
      t: Tables, topK: Int = 5, maxProbe: Int = 3, subspaces: Int = 16,
      subDim: Int = 4, pqK: Int = 32, rounds: Int = 2,
      queryMod: Int = 50): DataFrame = {
    val spark = t.embeddings.sparkSession
    val useCache = maxProbe == 3 && subspaces == 16 && subDim == 4 &&
      pqK == 32 && rounds == 2 && queryMod == 50
    val candsM =
      if (useCache) ivfPqCandsCached(t)
      else {
        val (cands, rows) = ivfPqCandidates(
          t, maxProbe, subspaces, subDim, pqK, rounds, queryMod)
        val m = cands.loopCheckpoint()
        graft.Engine.freeCheckpoint(rows)
        m
      }
    // exact top-k by micro-unit L2 (integer distances, ties to lower id)
    val corpus = t.embeddings.select(col("vec_id").as("nid"),
      microUnits(col("embedding")).cast("array<double>").as("nmu"))
    val queries = t.embeddings
      .filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("qid"),
        microUnits(col("embedding")).cast("array<double>").as("qmu"))
    val exact = corpus
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("d",
        aggregate(zip_with(col("qmu"), col("nmu"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(negate(col("d")), col("nid")), lit(topK), lit(true)).as("top"))
      .select(col("qid"), explode(col("top")).as("item"))
      .select(col("qid"), col("item.id").as("nid"))
    import spark.implicits._
    val settings = broadcast(
      (1 to maxProbe).map(_.toLong).toDF("nprobe"))
    val wRank = Window.partitionBy("nprobe", "qid")
      .orderBy(col("adc").asc, col("nid").asc)
    val got = candsM
      .join(settings, col("prank") <= col("nprobe"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= topK)
      .select("nprobe", "qid", "nid")
    val nq = queries.count()
    // left join + flag sum: a curve point with zero hits must still emit
    // its row (got always carries topK rows per query per setting)
    val out = got
      .join(exact.withColumn("hit", lit(1L)), Seq("qid", "nid"), "left")
      .groupBy("nprobe")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(
        col("nprobe"),
        lit(nq).as("n_queries"),
        col("hits"),
        (col("hits").cast("double") / lit(topK * nq).cast("double"))
          .as("recall"))
      .orderBy("nprobe")
      .loopCheckpoint()
    if (!useCache) graft.Engine.freeCheckpoint(candsM)
    out
  }

  /** The COST half of the IVF-PQ operating curve ([[qIvfPqRecall]] is the
    * benefit half): candidates scanned per nProbe setting — total, per
    * query, and as a share of the full corpus scan a brute-force search
    * would pay. Together the two frames are the recall-vs-compute table
    * every ANN deployment tunes nProbe from. One slice-aggregate over the
    * shared encode-once candidate cache; counts exact, shares one IEEE
    * division rounded at 1e-9.
    */
  def qAnnCostCurve(
      t: Tables, maxProbe: Int = 3, queryMod: Int = 50): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    // the shared cache holds the default index run (maxProbe=3 probe
    // ranks, queryMod=50 query set); a prank slice of it is exact for
    // any maxProbe <= 3, but a deeper sweep or different query sampling
    // must encode fresh — the qKnnIvfPq/qIvfPqRecall guard
    val useCache = maxProbe <= 3 && queryMod == 50
    val cands =
      if (useCache) ivfPqCandsCached(t)
      else {
        val (c, rows) = ivfPqCandidates(t, maxProbe, 16, 4, 32, 2, queryMod)
        val m = c.loopCheckpoint()
        graft.Engine.freeCheckpoint(rows)
        m
      }
    val nq = t.embeddings
      .filter(pmod(col("vec_id"), lit(queryMod)) === 0).count()
    val nCorpus = t.embeddings.count()
    val settings = broadcast((1 to maxProbe).map(_.toLong).toDF("nprobe"))
    val out = cands.join(settings, col("prank") <= col("nprobe"))
      .groupBy("nprobe").agg(count(lit(1)).as("candidates"))
      .select(
        col("nprobe"),
        lit(nq).as("n_queries"),
        col("candidates"),
        round(col("candidates").cast("double") / lit(nq.toDouble), 9)
          .as("mean_cands_per_query"),
        round(col("candidates").cast("double") /
          lit((nq * (nCorpus - 1)).toDouble), 9).as("corpus_scan_share"))
      .orderBy("nprobe")
      .loopCheckpoint()
    if (!useCache) graft.Engine.freeCheckpoint(cands)
    out
  }

  /** Semantic dedup (the SemDeDup recipe): cluster the corpus with the
    * SAME exact-integer Lloyd index [[qKnnIvf]] trains, find near-dup
    * pairs only WITHIN a cluster, group them into connected components,
    * and keep per group the member FARTHEST from its cluster centroid —
    * pruning the redundant core of a semantic neighborhood while
    * retaining its most informative (least typical) example, which is
    * the policy that distinguishes semantic dedup from near-dup removal
    * ([[qDedupEmbed]] keeps pairs; this makes keep/prune decisions).
    *
    * Scale shape: cluster assignment is a map-side projection against the
    * literal centroid set (no shuffle); the pairwise stage shuffles once
    * on the cell key and compares only within a cell ([[embedDupPairs]] —
    * over-cap cells fall back to banded-LSH sub-blocking, so no cell ever
    * goes quadratic); components run on the pair EDGE list
    * ([[Dedup.connectedComponents]] min-label propagation with pointer
    * jumping). Everything before the final keep-ranking is exact integer
    * micro-unit arithmetic, so the full decision — clusters, pairs,
    * groups, centroid similarities — is bit-deterministic and replayed by
    * the DuckDB oracle (unrolled Lloyd rounds + recursive-CTE
    * reachability).
    */
  def qSemDedup(
      t: Tables, threshold: Double = 0.35, maxCell: Int = 2048): DataFrame = {
    val emb = t.embeddings.select(
      col("vec_id"), col("label"),
      microUnits(col("embedding")).cast("array<double>").as("mu"))
    semDedupDecisions(emb, ivfCentroidsCached(t), threshold, maxCell)
  }

  /** [[qSemDedup]]'s pipeline over an arbitrary (vec_id, mu) frame and a
    * given coarse index — also the offline KEEPER builder for the
    * serving-time streaming filter ([[graft.streaming.Streams]]).
    */
  private[graft] def semDedupDecisions(
      emb: DataFrame, cents: Seq[Array[Double]], threshold: Double,
      maxCell: Int): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq))
    // assignment + per-member centroid cosine: micro-domain cosine is
    // scale-invariant (matches raw geometry to quantization precision) and
    // its dot/norms are exact integers — one IEEE division at the end
    val assigned = emb
      .select(col("vec_id"), nearestCell(col("mu"), cents).as("cell"),
        col("mu"))
      .withColumn("cent_sim",
        cosine(col("mu"), element_at(centsLit, col("cell") + 1)))
      .loopCheckpoint()
    val pairs = embedDupPairs(
      assigned.select(col("cell").as("label"), col("vec_id"),
        col("mu").as("v")),
      threshold, maxCell)
      .select("id1", "id2")
      .loopCheckpoint()
    val comps = Dedup.connectedComponents(pairs)
      .select(col("id").as("vec_id"), col("comp"))
    val wKeep = Window.partitionBy("grp")
      .orderBy(col("cent_sim").asc, col("vec_id").asc)
    val out = assigned
      .join(comps, Seq("vec_id"), "left")
      .withColumn("grp", coalesce(col("comp"), col("vec_id")))
      .withColumn("keep",
        (row_number().over(wKeep) === 1).cast("long"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("grp"),
        col("cent_sim"), col("keep"))
      .orderBy("vec_id")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(assigned)
    graft.Engine.freeCheckpoint(pairs)
    out
  }

  /** Offline keeper index for serving-time semantic dedup: run the full
    * [[qSemDedup]] decision pipeline over the vec_id-even half of the
    * corpus (the "yesterday's corpus" the index was built from) and pack
    * the keepers into one id-sorted (id, vector) list per coarse cell —
    * the broadcast lookup table an ingest filter probes. Cell-count rows,
    * index metadata.
    */
  def semDedupKeeperIndex(
      t: Tables, threshold: Double = 0.35, maxCell: Int = 2048): DataFrame = {
    val embA = t.embeddings
      .filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"), col("label"),
        microUnits(col("embedding")).cast("array<double>").as("mu"))
    val dec = semDedupDecisions(embA, ivfCentroidsCached(t), threshold, maxCell)
    // checkpoint the (cell-count-row) keeper frame, then free the decision
    // checkpoint — otherwise every index build (each drain / spec run)
    // leaks the full decision frame's storage blocks for the session
    val out = dec.filter(col("keep") === 1)
      .join(embA.select(col("vec_id"), col("mu")), "vec_id")
      .groupBy("cell")
      .agg(array_sort(
        collect_list(struct(col("vec_id").as("id"), col("mu").as("v"))))
        .as("ks"))
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(dec)
    out
  }

  /** Serving-time semantic-dedup verdicts: each arrival (vec_id, mu —
    * batch or STREAMING frame) assigns its coarse cell map-side against
    * the literal centroid set, probes the broadcast keeper index with a
    * higher-order filter over the cell's id-sorted keeper list, and is
    * marked a duplicate of the LOWEST-id keeper within the cosine
    * threshold. Stateless — cell id is a projection, the index join is
    * stream-static with the keeper side broadcast — so verdicts are
    * arrival-order-free and the streaming drain is bit-identical to the
    * batch formulation (one shared oracle).
    */
  def semDedupServe(
      arrivals: DataFrame, keepers: DataFrame, cents: Seq[Array[Double]],
      threshold: Double = 0.35): DataFrame = {
    // cell-count rows, but each CARRIES its cell's keeper vectors: at
    // 100 TB the packed lists outgrow a broadcast long before the row
    // count does, and joinIndex shuffles both sides on the cell key
    // instead (same verdicts, both shapes audited in PlanAuditSpec)
    val idx = graft.Engine.joinIndex(keepers)
    arrivals
      .withColumn("cell", nearestCell(col("mu"), cents).cast("long"))
      .join(idx, Seq("cell"), "left_outer")
      .withColumn("m",
        filter(col("ks"),
          k => cosine(k.getField("v"), col("mu")) >= lit(threshold)))
      .select(
        col("vec_id"),
        col("cell"),
        get(col("m"), lit(0)).getField("id").as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull.cast("long"))
  }

  /** Incremental IVF index-maintenance report: a new ingest batch (the
    * vec_id-odd half) assigned map-side against the FROZEN coarse index,
    * compared per cell against the incumbents (the even half the index
    * has already served). Per cell: member counts, the batch's share, and
    * the mean centroid-cosine of arrivals vs incumbents — the two numbers
    * an index operator watches to decide when to retrain (arrivals
    * concentrating in few cells = rebalance; arrivals systematically
    * farther from their centroids = drift, retrain).
    *
    * Scale: assignment is the [[nearestCell]] projection (no shuffle);
    * one hash aggregate on the cell key emits k rows. Per-row cosines are
    * single IEEE expressions over exact-integer dot/norms (engine-
    * identical), rounded at 1e-9 into exact decimal sums, so the means
    * are order-free and the whole report hash-oracles.
    */
  def qIvfIngest(t: Tables): DataFrame =
    ivfIngestReport(
      t.embeddings.select(
        col("vec_id"),
        microUnits(col("embedding")).cast("array<double>").as("mu")),
      ivfCentroidsCached(t))
      .orderBy("cell")

  /** [[qIvfIngest]]'s per-cell report over an arbitrary (vec_id, mu)
    * frame — batch or STREAMING (the assignment/cosine stage is a
    * stateless projection; the one aggregation keys on the k-cell id, so
    * a complete-mode drain holds k rows of state). Unordered: batch
    * callers sort; streaming drains sort after the sink.
    */
  private[graft] def ivfIngestReport(
      emb: DataFrame, cents: Seq[Array[Double]]): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq))
    val assigned = emb
      .withColumn("cell", nearestCell(col("mu"), cents).cast("long"))
      .withColumn("cs",
        round(cosine(col("mu"), element_at(centsLit, (col("cell") + 1).cast("int"))), 9)
          .cast("decimal(12,10)"))
      .withColumn("arrival", (pmod(col("vec_id"), lit(2)) === 1).cast("long"))
    assigned.groupBy("cell")
      .agg(
        sum(lit(1L) - col("arrival")).cast("long").as("n_incumbent"),
        sum(col("arrival")).cast("long").as("n_arrivals"),
        sum(when(col("arrival") === 0, col("cs"))).as("si"),
        sum(when(col("arrival") === 1, col("cs"))).as("sa"))
      .select(
        col("cell"),
        col("n_incumbent"),
        col("n_arrivals"),
        round(col("n_arrivals").cast("double") /
          (col("n_incumbent") + col("n_arrivals")).cast("double"), 9)
          .as("arrival_share"),
        round((col("si").cast("double") / col("n_incumbent").cast("double")), 9)
          .as("mean_sim_incumbent"),
        round((col("sa").cast("double") / col("n_arrivals").cast("double")), 9)
          .as("mean_sim_arrival"),
        round(
          col("sa").cast("double") / col("n_arrivals").cast("double") -
            col("si").cast("double") / col("n_incumbent").cast("double"), 9)
          .as("sim_drift"))
  }

  /** Per-row vector diagnostics on a deterministic sample: L2 norm computed
    * by the same sequential fold as the oracle's list arithmetic — raw
    * doubles, no aggregation, so the compare is bit-exact.
    */
  def qVectorNorms(t: Tables): DataFrame =
    t.embeddings
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(
        col("vec_id"),
        norm(asDouble(col("embedding"))).as("l2"),
        size(col("embedding")).cast("long").as("dim"))
      .orderBy("vec_id")

  /** Per-label mean embedding (the cluster-centroid primitive), GRADED:
    * vectors are first quantized to fixed-point milli-units
    * (floor(x*1000 + 0.5)), so the [[graft.functions.VectorSum]] partial
    * sums are exact integers in doubles — aggregation order cannot shift
    * them, which is what lets a distributed vector aggregate hash-match a
    * single-threaded SQL oracle. One hash aggregate; one row per label
    * crosses the exchange; the long-form explode happens on the k x dim
    * result, not the input.
    */
  def qLabelCentroids(t: Tables): DataFrame =
    t.embeddings
      // vector_sum skips null/empty vectors, so exclude them from `n` too —
      // the divisor must count exactly the rows the numerator folded in
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"),
        transform(asDouble(col("embedding")),
          // floor() yields BIGINT; vector_sum takes array<double>
          x => floor(x * lit(1000.0) + lit(0.5)).cast("double")).as("m"))
      .groupBy("label")
      .agg(call_function("vector_sum", col("m")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"), posexplode(col("s")).as(Seq("dim", "sm")))
      .select(
        col("label"),
        col("dim").cast("long").as("dim"),
        col("sm").cast("long").as("sum_milli"),
        col("n"),
        (col("sm") / col("n")).as("mean_milli"))
      .orderBy("label", "dim")

  /** Per-dimension corpus statistics — the whitening/normalization frame
    * a training pipeline computes before feeding embeddings to a model
    * (mean-center, scale by std, clip outlier dims). Same fixed-point
    * milli-unit trick as [[qLabelCentroids]]: sums and sums-of-squares
    * fold through TWO [[graft.functions.VectorSum]] partial aggregates,
    * so the corpus collapses to ONE dims-wide row per exchange — the
    * input is never exploded to (rows × dims) long form; the explode
    * happens on the single result row. Milli-squares stay < 2^53 for
    * corpora up to ~10⁹ rows; past that, re-quantize coarser.
    *
    * Variance is computed from the exact integer sums with one pinned
    * double chain (the [[graft.ops.Stats.qAnova]] convention).
    */
  def qDimStats(t: Tables): DataFrame =
    dimStatsEpilogue(dimSums(t.embeddings))

  /** The two-vector_sum fold shared by the batch query and the streaming
    * drain: a streaming execution's state is ONE (s, s2, n) row. */
  private[graft] def dimSums(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(transform(asDouble(col("embedding")),
        x => floor(x * lit(1000.0) + lit(0.5)).cast("double")).as("m"))
      .select(col("m"),
        expr("transform(m, x -> x * x)").as("m2"))
      .agg(
        call_function("vector_sum", col("m")).as("s"),
        call_function("vector_sum", col("m2")).as("s2"),
        count(lit(1)).as("n"))

  /** Explode the single dims-wide sums row to per-dim stats. */
  private[graft] def dimStatsEpilogue(sums: DataFrame): DataFrame =
    sums
      .select(col("n"), posexplode(arrays_zip(col("s"), col("s2")))
        .as(Seq("dim", "z")))
      .select(
        col("dim").cast("long").as("dim"),
        col("n"),
        col("z.s").cast("long").as("sum_milli"),
        col("z.s2").cast("long").as("sumsq_milli"),
        round(col("z.s") / col("n").cast("double"), 6).as("mean_milli"),
        round((col("z.s2") - col("z.s") * col("z.s") /
          col("n").cast("double")) / col("n").cast("double"), 6)
          .as("var_milli"))
      .orderBy("dim")

  /** Pairwise cosine similarity between label centroids — the
    * cluster-geometry diagnostic (which classes are embedding-confusable).
    * Works on the SAME fixed-point milli-unit sums as [[qLabelCentroids]]:
    * cosine(sa/na, sb/nb) = cosine(sa, sb) — the member counts cancel —
    * so the measure is computed entirely from EXACT integer dot products
    * and norms (milli sums are < 2^53; their per-dim products sum in
    * DECIMAL), with one final double sqrt/division. Scale: the corpus
    * collapses to a (labels x dims) frame in one vector_sum aggregate;
    * the pairwise stage runs on label-count-squared rows, i.e. nothing.
    */
  def qCentroidSim(t: Tables): DataFrame = {
    val sums = t.embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"),
        transform(asDouble(col("embedding")),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("double")).as("m"))
      .groupBy("label")
      .agg(call_function("vector_sum", col("m")).as("s"))
      .select(col("label"), posexplode(col("s")).as(Seq("dim", "sm")))
      .select(col("label"), col("dim"), col("sm").cast("long").as("sm"))
    val norms = sums
      .groupBy("label")
      .agg(sum((col("sm") * col("sm")).cast(org.apache.spark.sql.types
        .DecimalType(38, 0))).cast("double").as("n2"))
    val a = sums.select(col("label").as("la"), col("dim"), col("sm").as("sa"))
    val b = sums.select(col("label").as("lb"), col("dim"), col("sm").as("sb"))
    a.join(b, "dim")
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(sum((col("sa") * col("sb")).cast(org.apache.spark.sql.types
        .DecimalType(38, 0))).cast("double").as("dot"))
      .join(broadcast(norms.toDF("la", "na2")), "la")
      .join(broadcast(norms.toDF("lb", "nb2")), "lb")
      .select(
        col("la").as("label_a"),
        col("lb").as("label_b"),
        (col("dot") / sqrt(col("na2") * col("nb2"))).as("centroid_cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Embedding-space outlier scoring: the sampled vectors MOST ISOLATED
    * from the corpus — lowest max-cosine and lowest mean-top-k cosine —
    * the diagnostic a curation pipeline uses to surface mislabeled or
    * out-of-distribution records. Same broadcast-queries/bounded-topk
    * shape as [[qKnnBrute]]; similarities are rounded at 1e-9 into
    * decimals BEFORE the top-k mean so the 5-term sum is
    * aggregation-order-free (max needs no such care — it commutes).
    */
  def qEmbedOutliers(t: Tables, k: Int = 5, qMod: Int = 100): DataFrame = {
    val corpus = t.embeddings
      .select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nvec"))
    val queries = t.embeddings
      .filter(pmod(col("vec_id"), lit(qMod)) === 0)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qvec"))
    corpus
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"),
        round(cosine(col("qvec"), col("nvec")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(12, 10)).as("s9"),
        col("nid"))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(col("s9").cast("double").as("score"), col("nid")),
        lit(k), lit(true)).as("top"))
      .select(
        col("qid"),
        element_at(col("top"), 1).getField("score").as("max_sim"),
        (aggregate(
          transform(col("top"), x => x.getField("score")
            .cast(org.apache.spark.sql.types.DecimalType(12, 10))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(16, 10)),
          (acc, v) => (acc + v)
            .cast(org.apache.spark.sql.types.DecimalType(16, 10)))
          .cast("double") /
          size(col("top")).cast("double")).as("mean_topk"))
      .orderBy(col("max_sim").asc, col("qid"))
      .limit(20)
  }

  /** Symmetric int8 quantization of embeddings (the storage/serving format
    * for large ANN corpora): per-vector scale = max|v|/127, quantized code
    * q_i = floor(v_i * 127 / max + 0.5). Map-only projection — codegen'd
    * higher-order functions, no UDFs — with per-vector diagnostics:
    * saturation count and max reconstruction error. floor(x + 0.5) instead
    * of round() keeps the result engine-exact (same IEEE ops in the same
    * order on both sides of the oracle compare).
    */
  def qEmbedQuantize(t: Tables): DataFrame =
    t.embeddings
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .filter(col("mx") > 0)
      .withColumn("q", transform(col("v"),
        x => floor(x * lit(127.0) / col("mx") + lit(0.5)).cast("long")))
      .select(
        col("vec_id"),
        col("mx"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"),
        array_max(zip_with(col("v"), col("q"),
          (x, qi) => abs(x - qi.cast("double") * col("mx") / lit(127.0))))
          .as("max_err"))
      .orderBy("vec_id")

  /** LSH-banded approximate kNN: the third scale path next to brute force
    * and IVF, and the one that survives a corpus too big to scan per query
    * batch.
    *
    * Shape: 64 hyperplane sign bits per vector (native
    * [[graft.functions.HyperplaneSig]], no materialized plane matrix) are
    * split into `bands` bands of `bitsPerBand` bits; a corpus vector is a
    * candidate for a query iff they share any band's bucket. Band rows
    * carry ids only — the candidate join is corpus-bands against the
    * BROADCAST query bands, so the corpus is never shuffled; candidate
    * vectors are then fetched by a broadcast semi-join, exact-cosine
    * verified, and ranked with the bounded_topk partial aggregate (k rows
    * per query per map task cross the exchange). Same output shape as
    * [[qKnnBrute]]; recall vs brute force is asserted in tests.
    *
    * Banding picks the recall/candidate-volume point via
    * P[band match] = (1 - theta/pi)^bits: clustered real embeddings
    * (neighbor cosine >= 0.7, p >= 0.75) prune hard at 4+ bits, while the
    * quasi-random test corpus (neighbor cosine ~ 0.3, p ~ 0.6 vs 0.5
    * background) needs the looser 3-bit bands to clear recall 0.8 — the
    * parameters are the tuning surface, the plan shape is fixed and never
    * shuffles the corpus.
    */
  def qKnnLsh(
      t: Tables, k: Int = 5, bands: Int = 16, bitsPerBand: Int = 3): DataFrame = {
    val planes = bands * bitsPerBand
    require(planes <= 64, "bands * bitsPerBand must fit the 64-bit signature")
    val emb = t.embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val isQuery = pmod(col("vec_id"), lit(200)) === 0
    val sig = emb.withColumn(
      "sig", call_function("hyperplane_sig", col("vec"), lit(planes)))

    def banded(df: DataFrame, idAs: String): DataFrame = df
      .select(col("vec_id").as(idAs),
        explode(bandBuckets(col("sig"), bands, bitsPerBand)).as("bb"))
      .select(col(idAs), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    val candidates = banded(sig, "nid")
      .join(broadcast(banded(sig.filter(isQuery), "qid")), Seq("band", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")

    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    emb.select(col("vec_id").as("nid"), col("vec").as("nvec"))
      .join(broadcast(candidates), "nid")
      .join(broadcast(queries), "qid")
      .withColumn("sim", cosine(col("qvec"), col("nvec")))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("nid")), lit(k), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        col("item.score").as("sim"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Hyperplane signs for [[qKnnLshPortable]], derived from md5 so ANY
    * engine replays the identical matrix: sign(p, i) = +1 iff the leading
    * hex digit of md5("p_i") >= '8'. Computed driver-side — the matrix is
    * plane METADATA (planes x dim longs), not data — and shipped as one
    * literal into the corpus projection.
    */
  private[graft] def md5SignMatrix(planes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until planes).map { p =>
      (0 until dim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${p}_${i}".getBytes("UTF-8"))
        if (((d(0) >> 4) & 0xF) >= 8) 1L else -1L
      }
    }

  /** Per-row array of (band, code) keys from the PORTABLE integer
    * micro-unit hyperplane signature (see [[qKnnLshPortable]]): a pure
    * projection over `mu` (the floor(x*1e6) long array) against the
    * literal md5 sign matrix — stateless, so it composes into streaming
    * ingest the same way [[graft.ext.Dedup.portableSimhashCol]] does.
    */
  private[graft] def portableBandStructs(
      muCol: Column, bands: Int, bitsPerBand: Int, dim: Int): Column = {
    val planes = bands * bitsPerBand
    val signs = typedLit(md5SignMatrix(planes, dim))
    def proj(p: Int): Column =
      aggregate(
        zip_with(muCol, element_at(signs, p + 1), (m, s) => m * s),
        lit(0L), (a, v) => a + v)
    def bandCode(b: Int): Column =
      (0 until bitsPerBand).map { j =>
        when(proj(b * bitsPerBand + j) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), bandCode(b).as("code"))): _*)
  }

  /** floor(x * 1e6) micro-unit quantization of an embedding. */
  private[graft] def microUnits(embedding: Column): Column =
    transform(asDouble(embedding), x => floor(x * lit(1000000.0)))

  /** [[qKnnLsh]]'s banded hyperplane plan with an ENGINE-PORTABLE
    * signature, graded with a full hash oracle (qKnnLsh itself hashes
    * planes via engine-specific xxhash64 and is rows-only checked).
    * Two portability moves:
    *
    *  - plane signs come from [[md5SignMatrix]] (md5 = the hash every
    *    engine evaluates identically), and
    *  - projections run in integer MICRO-UNITS: floor(x * 1e6) per
    *    component, so each plane's dot product is an exact BIGINT sum —
    *    no float summation order to disagree on, hence bucket codes that
    *    are bit-identical in any engine and any partitioning.
    *
    * Plan shape is unchanged from qKnnLsh: band rows carry ids only, the
    * candidate join is corpus-bands against the BROADCAST query bands (the
    * corpus never shuffles), candidate vectors come back via broadcast
    * joins, exact cosine verifies (the same sequential fold the oracle
    * replays), and bounded_topk ranks with k rows per query per map task.
    * 3-bit bands match the quasi-random test corpus (recall >= 0.9 vs
    * brute at ~75% candidate fraction); clustered real embeddings would
    * take wider bands — parameters are the tuning surface, the shape is
    * fixed. The interpreted sign-fold projection trades codegen for
    * portability; the engine-specific [[qKnnLsh]] keeps the native
    * codegen'd signature for the 100 TB hot path.
    */
  def qKnnLshPortable(
      t: Tables, k: Int = 5, bands: Int = 10, bitsPerBand: Int = 3,
      dim: Int = 64): DataFrame = {
    val coded = t.embeddings
      .select(col("vec_id"), microUnits(col("embedding")).as("mu"))
      .select(col("vec_id"),
        explode(portableBandStructs(col("mu"), bands, bitsPerBand, dim))
          .as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.code").as("code"))
    val isQuery = pmod(col("vec_id"), lit(200)) === 0

    val candidates = coded.toDF("nid", "band", "code")
      .join(broadcast(coded.filter(isQuery).toDF("qid", "band", "code")),
        Seq("band", "code"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")

    val emb = t.embeddings.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val queries = emb.filter(isQuery).select(col("vec_id").as("qid"), col("vec").as("qvec"))
    emb.select(col("vec_id").as("nid"), col("vec").as("nvec"))
      .join(broadcast(candidates), "nid")
      .join(broadcast(queries), "qid")
      .withColumn("sim", cosine(col("qvec"), col("nvec")))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(col("sim"), col("nid")), lit(k), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        col("item.score").as("sim"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** ANN quality audit: recall@k of the portable banded-LSH search
    * ([[qKnnLshPortable]]) against the exact brute-force ranking
    * ([[qKnnBrute]]), per query — the acceptance metric a production ANN
    * deployment gates on before swapping an index in for exact search.
    * Both sub-pipelines are individually hash-oracled, so their
    * composition is too: recall is a ratio of small exact integers (one
    * double division, no accumulation order to disagree on).
    *
    * Scale: the brute side is the corpus-scan × broadcast-queries shape,
    * the LSH side never shuffles the corpus; the audit join keys on
    * (query, neighbor) — queries × k rows, dimension-sized.
    */
  def qAnnRecall(t: Tables, k: Int = 5): DataFrame = {
    val brute = qKnnBrute(t, k).select(col("qid"), col("nid"))
    val found = qKnnLshPortable(t, k).select(col("qid"), col("nid"))
      .withColumn("hit", lit(1))
    brute.join(found, Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(
        count(lit(1)).as("n_brute"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_brute").cast("double"))
      .orderBy("qid")
  }

  /** Greedy k-center coreset selection (farthest-point traversal) — the
    * diversity-sampling rule for picking a small representative subset of
    * an embedding corpus: seed at the lowest id, then repeatedly add the
    * point FARTHEST from the selected set. Each output row carries the
    * min-distance at selection time — the classic 2-approximation's
    * coverage-radius sequence. Per round the corpus does ONE map-side
    * pass (squared-L2 to the newly selected vector, a 64-literal
    * zip-fold, no join) plus a `least` against the running min-distance
    * column; only the argmax scalar reaches the driver. Distances are
    * exact integer milli-unit sums (Δ ≤ ~4e3 per dim, ×64 dims ≪ 2^63),
    * ties break on vec_id — deterministic everywhere.
    */
  def qCoresetKcenter(t: Tables, k: Int = 4): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    // probed k times — materialize the quantization; the seed (lowest
    // id) is the checkpoint's witness
    val (m, seed) = graft.Engine.loopCheckpointWith(t.embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        transform(asDouble(col("embedding")),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("long")).as("m")))(
      _.agg(min("vec_id")).head().getLong(0))
    try {
      def distTo(vec: Seq[Long]) =
        expr(s"aggregate(zip_with(m, ${vec.mkString("array(", "L,", "L)")}," +
          " (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
      var selId = seed
      var selVec = m.filter(col("vec_id") === selId)
        .head().getSeq[Long](1)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      out += ((1L, selId, 0L))
      var mind = m.select(col("vec_id"), col("m"),
        distTo(selVec).as("d"))
      for (r <- 2 to k) {
        val top = mind.orderBy(col("d").desc, col("vec_id"))
          .select("vec_id", "d").limit(1).head()
        selId = top.getLong(0)
        out += ((r.toLong, selId, top.getLong(1)))
        selVec = m.filter(col("vec_id") === selId).head().getSeq[Long](1)
        if (r < k)
          mind = mind.select(col("vec_id"), col("m"),
            least(col("d"), distTo(selVec)).as("d"))
      }
      out.toSeq.toDF("rk", "vec_id", "radius")
    } finally {
      graft.Engine.freeCheckpoint(m)
    }
  }

  /** Top principal direction of the (uncentered) embedding Gram matrix by
    * two distributed power-iteration rounds — the spectral matvec shape:
    * each round is `v ← Xᵀ(Xv)`, i.e. one per-row dot product (a window
    * sum over the tall (row, dim, value) frame — no join) followed by one
    * dim-keyed aggregation to a DIMENSION-sized frame that broadcasts
    * into the next round. The corpus streams through each round once and
    * never holds more than (rows × dims) tall rows; at 100 TB the only
    * growing cost is the per-round scan.
    *
    * Numerics: embeddings quantize to integer milli-units (the
    * [[qLabelCentroids]] fixed-point rule), the iterate rescales by an
    * integer div-1e6 between rounds (truncating toward zero — Spark
    * `div` and DuckDB `//` agree on negatives), and every sum is an exact
    * integer with headroom proven against 2^63 (dot ≤ ~4e9, component
    * ≤ ~2e16 at bench scale) — so two engines produce bit-identical
    * iterates, and the final loadings are one exact-decimal norm, one
    * sqrt, one division — each correctly rounded, hence deterministic.
    */
  def qPowerIteration(t: Tables): DataFrame = {
    val tall = t.embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        posexplode(transform(asDouble(col("embedding")),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("long")))
          .as(Seq("dim", "mv")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("mv"))
    val byRow = Window.partitionBy("vec_id")
    // round 1: v0 = all-ones, so Xv0 is a plain row sum
    val c1 = tall
      .withColumn("dot", sum("mv").over(byRow))
      .groupBy("dim").agg(sum(expr("dot * mv")).as("comp"))
    val v1 = c1.select(col("dim"), expr("comp div 1000000").as("w"))
    // round 2: the rescaled iterate broadcasts back into the tall frame
    val c2 = tall.join(broadcast(v1), "dim")
      .withColumn("dot", sum(expr("w * mv")).over(byRow))
      .groupBy("dim").agg(sum(expr("dot * mv")).as("comp"))
    val ss = c2.agg(
      sum(col("comp").cast("decimal(38,0)") * col("comp")).as("ss"))
    c2.crossJoin(broadcast(ss))
      .select(col("dim"), col("comp"),
        (col("comp").cast("double") / sqrt(col("ss").cast("double")))
          .as("loading"))
      .orderBy("dim")
  }

  /** Simplified (centroid-based) silhouette per label — the clustering
    * quality score: a = distance to the OWN label centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b), averaged per
    * label. The label-quality gauge behind "is this class embedding-
    * coherent or two clusters wearing one name". Uses the exact-centroid
    * trick from [[qCentroidSim]]: with m = milli-unit integers and
    * S_l/n_l the centroid, ‖x − c_l‖ = √(Σ(m·n_l − S_l)²)/(1000·n_l) —
    * the radical is an EXACT integer, so every distance (and the a/b
    * comparison picking the nearest rival) is bit-identical in any
    * engine; per-label means decimal-pin the rounded terms.
    *
    * Scale: one vector_sum collapse to (labels × dims), one broadcast of
    * the label-count-sized centroid frame through the corpus (each row
    * computes #labels distances map-side), one hash aggregate. No
    * point-to-point pairs anywhere.
    */
  def qSilhouette(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = t.embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("label").cast("long").as("own"),
        transform(asDouble(col("embedding")),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("long")).as("m"))
    val cents = base
      .groupBy(col("own").as("l"))
      .agg(call_function("vector_sum",
        transform(col("m"), _.cast("double"))).as("sraw"),
        count(lit(1)).as("nl"))
      .select(col("l"), transform(col("sraw"), _.cast("long")).as("s"),
        col("nl"))
    val dists = base
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("own"), col("l"),
        (sqrt(
          aggregate(
            zip_with(col("m"), col("s"),
              (md, sd) => (md * col("nl") - sd) * (md * col("nl") - sd)),
            lit(0L), (acc, v) => acc + v).cast("double")) /
          (col("nl") * 1000L).cast("double")).as("dist"))
    dists
      .groupBy("vec_id", "own")
      .agg(
        max(when(col("l") === col("own"), col("dist"))).as("a"),
        min(when(col("l") =!= col("own"), col("dist"))).as("b"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy(col("own").as("label"))
      .agg(
        count(lit(1)).as("n_points"),
        (sum(round(col("sil"), 9).cast(DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("mean_sil"),
        (sum(round(col("a"), 6).cast(DecimalType(24, 8))).cast("double") /
          count(lit(1))).as("mean_dist_own"),
        (sum(round(col("b"), 6).cast(DecimalType(24, 8))).cast("double") /
          count(lit(1))).as("mean_dist_other"))
      .orderBy("label")
  }

  /** Product quantization (PQ): the vector-compression half of an IVF-PQ
    * index. The embedding splits into `subspaces` blocks of `subDim`
    * dims; each subspace trains its own `k`-cell codebook by Lloyd's
    * rounds and every vector compresses to one code digit per subspace —
    * 64 floats become 8 2-bit digits. Training runs in the same EXACT
    * integer micro-unit domain as [[lloydCentroidsExact]] (L2 distances
    * here, since PQ minimizes reconstruction error, not angle): sums,
    * distances, and floor-mean centroids are all exact integers, so the
    * codebooks, codes, and reconstruction errors are bit-deterministic
    * and fully hash-oracled as unrolled CTE rounds.
    *
    * Scale shape: codebooks train on whatever sample the caller passes
    * (full corpus here; at 100 TB a hash-mod sample, like lloyd's) — the
    * subspace explode multiplies TRAINING rows by `subspaces` only, never
    * the corpus at assignment time more than the same factor, and each
    * Lloyd round is one broadcast join + window argmin + one k*subspaces
    * row aggregate; the corpus never shuffles on anything wider than
    * (vec_id, subspace). Init is label mod k — deterministic, like the
    * IVF label init. Empty cells keep their previous centroid.
    *
    * Output: per vector, the packed code string (subspace-ordered cell
    * digits) and the exact micro-unit squared reconstruction error.
    */
  def qPqCodes(
      t: Tables, subspaces: Int = 8, subDim: Int = 8, k: Int = 4,
      rounds: Int = 2): DataFrame = {
    val rows = pqSubRows(t, subspaces, subDim)
    val cents = pqTrain(rows, k, rounds)
    val out = pqAssign(rows, cents)
      .groupBy("vec_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("s"), col("cell")))),
            x => x.getField("cell").cast("string")),
          "").as("pq_code"),
        sum(col("dist")).cast("long").as("recon_err"))
      .orderBy("vec_id")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(rows)
    out
  }

  /** Per-(vector, subspace) micro-unit sub-vector rows — the training and
    * assignment input for the PQ family. Checkpointed; callers free it.
    */
  private def pqSubRows(t: Tables, subspaces: Int, subDim: Int): DataFrame =
    t.embeddings
      .select(col("vec_id"), col("label"),
        microUnits(col("embedding")).cast("array<double>").as("mu"))
      .select(col("vec_id"), col("label"),
        explode(array((0 until subspaces).map(s =>
          struct(lit(s).as("s"),
            slice(col("mu"), s * subDim + 1, subDim).as("sub"))): _*)).as("e"))
      .select(col("vec_id"), col("label"),
        col("e.s").as("s"), col("e.sub").as("sub"))
      .loopCheckpoint()

  /** Exact floor-mean codebook update: one vector_sum aggregate, k *
    * subspaces rows to the driver (codebooks are index metadata).
    */
  private def pqFloorMeans(assigned: DataFrame): Map[(Int, Int), Array[Double]] =
    assigned
      .groupBy("s", "cell")
      .agg(
        call_function("vector_sum", col("sub")).as("sum"),
        count(when(col("sub").isNotNull && size(col("sub")) > 0, lit(1)))
          .as("n"))
      .collect()
      .iterator
      .filter(r => !r.isNullAt(2) && r.getLong(3) > 0L)
      .map { r =>
        val n = r.getLong(3).toDouble
        (r.getInt(0), r.getInt(1)) ->
          r.getSeq[Double](2).map(v => math.floor(v / n)).toArray
      }
      .toMap

  private def pqCentsDf(
      spark: org.apache.spark.sql.SparkSession,
      cents: Map[(Int, Int), Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.toSeq
      .map { case ((s, c), v) => (s, c, v.toSeq) }
      .toDF("s", "cell", "cvec")
  }

  /** Exact integer squared L2 of each sub-vector against every cell of
    * its subspace's codebook (broadcast).
    */
  private def pqDists(rows: DataFrame, cents: Map[(Int, Int), Array[Double]])
      : DataFrame =
    rows
      .join(broadcast(pqCentsDf(rows.sparkSession, cents)), "s")
      .withColumn("dist",
        aggregate(zip_with(col("sub"), col("cvec"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))

  /** Argmin-L2 assignment via the native [[graft.functions.NearestCellL2]]
    * — a map-side projection against the boxed per-subspace codebook
    * literal (ids sorted ascending, so equal exact-integer distances
    * break to the lowest cell — identical to the broadcast-join + ranking
    * window formulation it replaces, without the per-pass shuffle).
    */
  private def pqAssign(rows: DataFrame, cents: Map[(Int, Int), Array[Double]])
      : DataFrame = {
    val nSub = cents.keysIterator.map(_._1).max + 1
    val byS = (0 until nSub).map { s =>
      cents.iterator
        .collect { case ((s2, c), v) if s2 == s => (c, v.toSeq) }
        .toSeq.sortBy(_._1)
    }
    rows
      .withColumn("a", call_function("nearest_cell_l2",
        col("sub"), col("s"),
        typedLit(byS.map(_.map(_._1))), typedLit(byS.map(_.map(_._2)))))
      .withColumn("cell", col("a.cell"))
      .withColumn("dist", col("a.dist"))
      .drop("a")
  }

  /** The Lloyd rounds over [[pqSubRows]]: `initCol`-mod-k init (label by
    * default; vec_id when every one of k > #labels cells must seed),
    * floor-mean updates, empty cells keep their previous centroid.
    */
  private def pqTrain(rows: DataFrame, k: Int, rounds: Int,
      initCol: String = "label"): Map[(Int, Int), Array[Double]] = {
    var cents = pqFloorMeans(
      rows.withColumn("cell", pmod(col(initCol), lit(k)).cast("int")))
    (1 to rounds).foreach { _ =>
      val means = pqFloorMeans(
        pqAssign(rows, cents).select(col("s"), col("cell"), col("sub")))
      cents = cents.map { case (key, prev) => key -> means.getOrElse(key, prev) }
    }
    cents
  }

  /** PQ search by asymmetric distance computation (ADC) — the query half
    * of IVF-PQ: each query precomputes a tiny distance TABLE (squared L2
    * from its sub-vector to every codebook cell, subspaces x k entries),
    * and a corpus vector's approximate distance is the sum of one table
    * lookup per subspace selected by its stored code digits. The corpus
    * side therefore moves only CODES (one 5-bit digit per subspace, never
    * the 64 floats) — the memory/IO compression that lets PQ search
    * corpora whose raw vectors don't fit anywhere. Every table entry and
    * every ADC sum is an exact micro-unit integer, so the ranking is
    * bit-deterministic and fully hash-oracled.
    *
    * Plan shape: corpus code rows equi-join the BROADCAST query tables on
    * (subspace, cell) — the corpus never shuffles — and bounded_topk
    * keeps k candidates per query per map task (score = negated distance,
    * ties to the lower id). A production IVF-PQ would first prune
    * candidates to the probed IVF cells ([[qKnnIvf]]); this is the flat
    * exhaustive-ADC variant, the recall ceiling of that index.
    */
  def qPqSearch(
      t: Tables, topK: Int = 5, subspaces: Int = 16, subDim: Int = 4,
      k: Int = 32, rounds: Int = 2, queryMod: Int = 50): DataFrame = {
    val rows = pqSubRows(t, subspaces, subDim)
    val cents = pqTrain(rows, k, rounds, initCol = "vec_id")
    val codes = pqAssign(rows, cents)
      .select(col("vec_id").as("nid"), col("s"), col("cell"))
    val queryTables = pqDists(
        rows.filter(pmod(col("vec_id"), lit(queryMod)) === 0), cents)
      .select(col("vec_id").as("qid"), col("s"), col("cell"),
        col("dist").as("tdist"))
    val out = codes
      .join(broadcast(queryTables), Seq("s", "cell"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(sum(col("tdist")).as("adc"))
      .groupBy("qid")
      .agg(call_function("bounded_topk",
        struct(negate(col("adc")), col("nid")), lit(topK), lit(true)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "item")))
      .select(
        col("qid"),
        col("item.id").as("nid"),
        negate(col("item.score")).cast("long").as("adc_dist"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(rows)
    out
  }
}
