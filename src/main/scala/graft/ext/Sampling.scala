package graft.ext

import graft.Tables
import graft.Engine.LoopCheckpointOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic sampling operators for training-data pipelines.
  *
  * Random sampling is useless for reproducible corpus builds: the sample
  * must be stable across runs, partitionings, and engines. These operators
  * order by a content hash (md5 of text + id), which every engine computes
  * identically — the sample is a pure function of the data, and any
  * downstream system can re-derive exactly which rows were chosen.
  */
object Sampling {

  /** Hash-order sort key: identical bytes -> identical key on any engine. */
  private def hashKey(textCol: String, idCol: String) =
    md5(concat(col(textCol), col(idCol).cast("string")))

  /** Deterministic train/val/test split by content hash — the
    * reproducible-corpus split: a document's assignment is a pure function
    * of its bytes, so it NEVER migrates between splits as the corpus
    * grows, shards differently, or is rebuilt on another engine (random
    * splits leak val docs into train on every re-run). The md5 hex prefix
    * is uniform over 256 values and ASCII-compares identically everywhere,
    * so the cut points are plain string thresholds: train < 'cd'
    * (205/256 ≈ 80.1%), val < 'e7' (26/256 ≈ 10.2%), rest test
    * (25/256 ≈ 9.8%) — exact rational shares, no float boundary.
    *
    * Scale: pure map + one hash aggregate on (split, source); nothing
    * else. The realized per-source share comes from a window over the
    * key-domain-sized result frame.
    */
  def qHashSplit(t: Tables): DataFrame =
    hashSplitEpilogue(hashSplitCounts(t.documents))

  /** Split census shared by the batch query and the streaming drain: the
    * split assignment is a STATELESS per-row expression, so a streaming
    * execution's only state is one counter row per (split, source) cell.
    */
  private[graft] def hashSplitCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("h2", substring(hashKey("text", "doc_id"), 1, 2))
      .withColumn("split",
        when(col("h2") < "cd", "train")
          .when(col("h2") < "e7", "val")
          .otherwise("test"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))

  /** Share/ordering epilogue over the cell-sized census frame. */
  private[graft] def hashSplitEpilogue(counts: DataFrame): DataFrame = {
    val bySource = Window.partitionBy("source")
    counts
      .withColumn("source_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(bySource).cast("double"), 9))
      .orderBy("split", "source")
  }

  /** Shard-plan balance audit: documents assigned to `shards` output
    * shards by content hash (the md5 of text+id that [[qHashSplit]]
    * splits on, reduced mod the shard count), with per-shard doc and
    * byte totals, shares, and deviation from the uniform ideal — the
    * pre-write check that a planned shard layout has no hot shard
    * before 100 TB of writes commit to it. Assignment is a stateless
    * map-side expression; the report is one shard-keyed hash aggregate
    * (k rows); the share windows run over that k-row frame only.
    */
  def qShardSkew(t: Tables, shards: Int = 16): DataFrame = {
    val all = Window.partitionBy()
    t.documents
      .withColumn("shard",
        (expr("CAST(conv(substring(md5(concat(text, CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT)")
          % shards).cast("long"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).cast("long").as("n_bytes"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") /
          sum("n_docs").over(all).cast("double"), 9))
      .withColumn("byte_share",
        round(col("n_bytes").cast("double") /
          sum("n_bytes").over(all).cast("double"), 9))
      .withColumn("dev_from_uniform",
        round(col("n_docs").cast("double") /
          sum("n_docs").over(all).cast("double") - lit(1.0 / shards), 9))
      .select("shard", "n_docs", "n_bytes", "doc_share", "byte_share",
        "dev_from_uniform")
      .orderBy("shard")
  }

  /** Stratified top-k: k docs per (lang, source) stratum in content-hash
    * order — a fixed-size per-stratum sample that balances the corpus
    * across languages and sources.
    *
    * Scale shape: one shuffle on the stratum key; per-stratum state is the
    * running window, and stratum sizes bound the skew (a stratum is never
    * bigger than its source's rows). For very hot strata the bounded_topk
    * aggregate form ships k rows per map task instead (see
    * [[graft.functions.BoundedTopK]]) — same semantics, partial-agg plan.
    */
  def qSampleStratified(t: Tables, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("lang", "source")
      .orderBy(col("skey"), col("doc_id"))
    t.documents
      .withColumn("skey", hashKey("text", "doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("lang"), col("source"), col("doc_id"), col("rn"))
      .orderBy("lang", "source", "rn")
  }

  /** Weighted source mix: per-source quotas for a target corpus blend
    * (e.g. 60% web / 30% books / 10% code), filled deterministically in
    * content-hash order. Sources with fewer rows than their quota
    * contribute everything they have — the realized mix is reported next
    * to the requested quota.
    */
  def qMixSources(
      t: Tables,
      quotas: Map[String, Int] = Map(
        "src0" -> 12, "src1" -> 8, "src2" -> 6, "src3" -> 4, "src4" -> 2))
      : DataFrame = {
    // quota as a literal CASE expression: config, not data — no join
    val quotaCol = quotas.foldLeft(lit(0)) { case (acc, (s, q)) =>
      when(col("source") === s, lit(q)).otherwise(acc)
    }
    val w = Window.partitionBy("source").orderBy(col("skey"), col("doc_id"))
    t.documents
      .withColumn("skey", hashKey("text", "doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("quota", quotaCol.cast("long"))
      .filter(col("rn") <= col("quota"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_sampled"),
        min("quota").as("quota"),
        array_join(
          transform(array_sort(collect_list(col("doc_id"))), x => x.cast("string")),
          ",").as("doc_ids"))
      .orderBy("source")
  }

  /** Deterministic training-shard assignment: shard = ((doc_id mod 2^31) *
    * Knuth multiplicative constant) mod nShards — a stateless pure
    * projection, so
    * any engine (and any re-run) routes a document to the same shard
    * without coordination. The per-shard stats verify balance; at 100 TB
    * the assignment column IS the write partitioning
    * (`df.write.partitionBy("shard")`), no shuffle beyond the final
    * aggregate here.
    */
  def qTrainShards(t: Tables, nShards: Int = 16): DataFrame =
    t.documents
      .select(col("doc_id"),
        // fold to 31 bits BEFORE the Knuth multiply: (2^31-1) * 2654435761
        // stays under 2^63, so no engine overflows (Spark would wrap
        // silently; DuckDB would raise) and every engine computes the same
        // shard for the same doc_id at any corpus size
        pmod((col("doc_id") % lit(2147483648L)) * lit(2654435761L),
          lit(nShards.toLong)).as("shard"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")

  /** Exact corpus vocabulary head: top-k words by document frequency per
    * language — the heavy-hitters view used for stop-word lists and the
    * qNgramJaccard skew guard. One explode + one aggregate + bounded
    * per-group top-k.
    */
  def qTopTerms(t: Tables, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("df").desc, col("word"))
    t.documents
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(Dedup.words(col("text")))).as("word"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("lang", "word", "df", "rnk")
      .orderBy("lang", "rnk")
  }

  /** Temperature-based corpus mixing (the multilingual-LM sampling rule:
    * weight each source by count^α, α = 0.5, so small sources are
    * up-sampled relative to their share): per source, token mass, the
    * α-tempered weight, its share of the mix, and the exact document
    * allocation out of a `budget`-sized epoch. One aggregation to a
    * source-dimension frame; everything downstream is arithmetic on that
    * tiny frame. Weights are sqrt-doubles rounded at 1e-9 into decimal,
    * the allocation is a pure integer product-div over the decimal's
    * scaled units (no floor-of-double anywhere near an integer boundary),
    * so the split is engine-exact and reproducible.
    */
  def qMixTemperature(t: Tables, budget: Long = 100000L): DataFrame = {
    val perSource = t.documents
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("weight",
        round(sqrt(col("total_tokens").cast("double")), 9)
          .cast("decimal(28,9)"))
    val tot = perSource.agg(sum("weight").as("wsum"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("weight").cast("double").as("weight"),
        (col("weight").cast("double") / col("wsum").cast("double"))
          .as("share"),
        expr(s"($budget * cast(weight * 1000000000 as bigint))" +
          " div cast(wsum * 1000000000 as bigint)").as("alloc_docs"))
      .orderBy("source")
  }

  /** Train/val/test LEAKAGE audit through near-duplicate groups — the
    * classic eval-contamination failure: a random-per-document split
    * puts two near-identical documents on opposite sides of the
    * train/test wall, and the eval score silently measures memorization.
    * Groups are the exact-near-dup fingerprint classes
    * ([[graft.ext.TextAnalysis.fingerprint]]: order/duplication-invariant
    * word-set md5); the split is the engine's content-hash assignment
    * ([[qHashSplit]]). Output per split pair: how many groups span it
    * and how many cross-wall document pairs they contribute — the number
    * that decides whether a split must be re-cut GROUP-wise.
    *
    * Scale: fingerprint + split are map-side projections; one hash
    * aggregate to (group, split) counts; the self-join keys on the
    * fingerprint with at most |splits| rows per key, so expansion is
    * bounded by 3²/2 per group. All counts exact integers.
    */
  def qSplitLeakage(t: Tables): DataFrame = {
    val counts = graft.Engine.spread(t.documents)
      .select(
        TextAnalysis.fingerprint(col("text")).as("fp"),
        substring(hashKey("text", "doc_id"), 1, 2).as("h2"))
      .withColumn("split",
        when(col("h2") < "cd", "train")
          .when(col("h2") < "e7", "val")
          .otherwise("test"))
      .groupBy("fp", "split").agg(count(lit(1)).as("c"))
    counts.toDF("fp", "split_a", "ca")
      .join(counts.toDF("fp", "split_b", "cb"), Seq("fp"))
      .filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(
        count(lit(1)).as("n_leaky_groups"),
        sum(col("ca") * col("cb")).cast("long").as("n_cross_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** The SAMPLING SCHEDULE that applies [[qMixDoremi]]'s weights — per
    * source: the token target under the reweighted mixture at the same
    * total budget, the sampling rate against what the source actually
    * has, and the epoch (repeat) factor when the target exceeds the
    * available tokens. This is the executable artifact a training-data
    * loader consumes; DoReMi's output is a distribution, this is the
    * plan (the same weights→plan step [[graft.ext.TextAnalysis
    * .qSpanRewrite]] performs for the dup-span coverage map).
    *
    * Exactness: the weight's exp term is the epilogue's DECIMAL(16,6)
    * value, so `raw × 1e6` is an exact integer; targets are integer
    * `raw6·budget DIV Σraw6` (largest-remainder-free floor allocation —
    * deterministic, engine-identical); the only doubles are the two
    * final display ratios, each one division rounded at 1e-9.
    *
    * Scale: a source-count-sized epilogue over the mixture frame — the
    * fact-sized work is [[qMixDoremi]]'s one count aggregate.
    */
  def qMixSchedule(t: Tables): DataFrame = {
    val w = qMixDoremi(t)
    // raw6: the epilogue's DECIMAL(16,6) exp term scaled to an exact
    // integer (recomputed from the rounded excess exactly as the
    // epilogue does — same double in, same decimal out)
    val raw6 = (round(exp(col("excess_surprisal")), 6)
      .cast(DecimalType(16, 6)) * lit(1000000))
      .cast("long")
    val tot = w
      .select(col("n_tokens"), raw6.as("r6"))
      .agg(sum("n_tokens").cast("long").as("budget"),
        sum("r6").cast("long").as("sum_r6"))
    w.withColumn("r6", raw6)
      .crossJoin(broadcast(tot))
      // r6 is ~1e6-scale, so a bare long product r6*budget would wrap
      // once the corpus budget passes ~3e12 tokens (real at 100 TB).
      // Widen to DECIMAL(38,0) before multiplying — the integral divide
      // still lands back in a long (targets are bounded by the budget).
      .withColumn("target_tokens",
        expr("cast(r6 as decimal(38,0)) * budget DIV sum_r6"))
      .select(
        col("source"),
        col("n_tokens").as("available_tokens"),
        col("weight"),
        col("target_tokens"),
        round(col("target_tokens").cast("double") /
          col("n_tokens").cast("double"), 9).as("sample_rate"),
        expr("(target_tokens + n_tokens - 1) DIV n_tokens")
          .as("epochs"))
      .orderBy("source")
  }

  /** DoReMi-flavored mixture reweighting: per-source excess unigram
    * surprisal drives an exponential-weights update, producing the
    * domain mixture a training run would sample at — sources whose
    * tokens the corpus-level LM finds SURPRISING (rare vocabulary,
    * distinctive content) get upweighted, boilerplate-heavy sources
    * damped. The published recipe trains a proxy model; this is the
    * statistics-only analogue on the unigram LM the engine already
    * maintains, with eta = 1.
    *
    * Exactness: per-word surprisal is a difference of 1e-9-rounded logs
    * held in exact decimals ([[graft.ext.TextAnalysis.qDocEntropy]]'s
    * recipe), token-count-weighted sums are exact decimal arithmetic,
    * and the one transcendental (`exp`) is fed an already-rounded
    * double and re-rounded at 1e-6 — far above any libm ulp, far below
    * the weight scale — so the whole frame hash-oracles.
    *
    * Scale: one vocab aggregate, one (source, word) aggregate, a
    * vocab-sized join, then a source-count-sized epilogue (the window
    * runs over k rows). No fact-sized shuffle beyond the two counts.
    */
  def qMixDoremi(t: Tables): DataFrame = {
    val dw = graft.Engine.spread(t.documents)
      .select(col("source"),
        explode(graft.ext.Dedup.words(col("text"))).as("word"))
    doremiEpilogue(
      dw.groupBy("source", "word").agg(count(lit(1)).as("c")))
  }

  /** [[qMixDoremi]]'s arithmetic over an already-aggregated
    * (source, word, c) count frame — shared with the streaming drain
    * ([[graft.streaming.Streams.drainMixDoremi]]), whose one stateful
    * aggregation produces exactly this frame. The corpus word counts
    * derive from it by a vocab-sized re-aggregate (identical exact longs
    * to counting the fact directly), so batch and stream share one
    * oracle. The single fact-sized shuffle in the whole report is the
    * (source, word) count itself.
    */
  private[graft] def doremiEpilogue(swc0: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    // the (source, word) frame feeds both the corpus rollup and the
    // per-source surprisal join — materialize it once so the fact-sized
    // count shuffle runs once, not per consumer
    val swc = swc0.loopCheckpoint()
    val cw = swc.groupBy("word").agg(sum("c").cast("long").as("c"))
      .loopCheckpoint() // feeds T, the corpus mean, and the word join
    // token total as a broadcast 1-row frame (house style): the surprisal
    // projection reads ln(T) from the crossJoined scalar instead of a
    // driver head(), so the whole report stays one job
    val tot = cw.agg(sum("c").cast("long").as("tt"))
    val lnT = round(log(col("tt").cast("double")), 9)
      .cast(DecimalType(14, 10))
    val swd = cw.crossJoin(broadcast(tot))
      .select(col("word"), col("c").as("cw"),
        (lnT - round(log(col("c").cast("double")), 9)
          .cast(DecimalType(14, 10))).as("s"))
    val corpus = swd
      .agg(sum(col("cw").cast(DecimalType(8, 0)) * col("s")).as("sdec_c"),
        sum("cw").cast("long").as("t"))
    val perSrc = swc
      .join(swd.select("word", "s"), "word")
      .groupBy("source")
      .agg(sum("c").cast("long").as("n_tokens"),
        sum(col("c").cast(DecimalType(8, 0)) * col("s")).as("sdec"))
    val out = perSrc.crossJoin(broadcast(corpus))
      .withColumn("ms",
        col("sdec").cast("double") / col("n_tokens").cast("double"))
      .withColumn("mc",
        col("sdec_c").cast("double") / col("t").cast("double"))
      .withColumn("excess", round(col("ms") - col("mc"), 9))
      .withColumn("raw",
        round(exp(col("excess")), 6).cast(DecimalType(16, 6)))
      .select(
        col("source"), col("n_tokens"),
        round(col("ms"), 9).as("mean_surprisal"),
        col("excess").as("excess_surprisal"),
        round(col("raw").cast("double") /
          sum(col("raw")).over(all).cast("double"), 9).as("weight"))
      .orderBy("source")
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(cw)
    graft.Engine.freeCheckpoint(swc)
    out
  }

  /** Global contiguous id assignment in content-hash order — the
    * "stable document ids for a 100 TB corpus" primitive, WITHOUT a
    * single-partition ranking window: the id is the row number of the
    * [[graft.ops.Prefix]] operator over the deterministic (content hash,
    * doc_id) order (range partition + sort, per-partition counts folded
    * into offsets, then id = partition offset + local position). The ids
    * equal the global rank REGARDLESS of where the range sampler placed
    * partition boundaries, so the result is a pure function of the data —
    * and hash-matches the oracle's row_number over the same order. Output
    * decimated to every `every`-th id for compare compactness.
    */
  def qAssignIds(t: Tables, every: Int = 37): DataFrame =
    graft.ops.Prefix.running(
        t.documents.select(col("doc_id"), hashKey("text", "doc_id").as("skey")),
        Seq(col("skey"), col("doc_id")), Nil, rowNumber = Some("rn"))
      .select(col("doc_id"), (col("rn") - 1L).as("gid"))
      .filter(pmod(col("gid"), lit(every)) === 0)
      .orderBy("gid")

  /** Token-budget-constrained corpus selection: greedily admit documents in
    * (quality desc, doc_id) order until the running token total exceeds the
    * budget — the knapsack-greedy pass that turns a scored corpus into a
    * fixed-size training set. Emits the per-source composition of the
    * selected set (the dial an operator actually reads).
    *
    * Exactness: quality is rounded at 1e-9 BEFORE the ordering so both
    * engines sort the same key (doc_id breaks the residual ties), and the
    * admission cut runs on an integer token cumsum. Scale shape: scoring is
    * map-side, and the greedy cumsum is a [[graft.ops.Prefix]] running sum
    * over the greed key — NOT a single-partition ranking window. The
    * budget is half the corpus's tokens (integer div — scale-relative, so
    * the query is meaningful at every sf), read off the same operator's
    * grand total. The cumsum is a pure function of the total order, so the
    * result is partition-placement-independent and hash-matches the
    * oracle's global window.
    */
  def qTokenBudget(t: Tables): DataFrame = {
    val scored = t.documents.select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(TextAnalysis.qualityExpr(col("text")), 9).as("q"))
    graft.ops.Prefix.running(scored, Seq(col("q").desc, col("doc_id")),
        Seq(graft.ops.Prefix.Running("cum_tokens", col("n_tokens"),
          grandTotal = Some("corpus_tokens"))))
      .filter(col("cum_tokens") <= expr("corpus_tokens div 2"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sel_tokens"),
        min("q").as("min_quality"))
      .orderBy("source")
  }

  /** K-anonymity / l-diversity audit over a quasi-identifier tuple — the
    * privacy gate a training corpus passes before release: every row must
    * sit in an equivalence class (same QI values) of at least k rows, and
    * each class should carry at least l distinct sensitive values so the
    * class doesn't leak the attribute by uniformity.
    *
    * QI here is (c_nationkey, c_mktsegment); the sensitive attribute is
    * the account-balance kilo-bucket. One row per candidate k: how many
    * classes violate, how many rows sit at risk, the re-identification
    * exposure rate, plus the corpus-wide min class size and min
    * l-diversity (constant across k rows by construction).
    *
    * Scale: ONE hash aggregate over the QI key builds the class frame
    * (classes are dimension-sized); the per-k summary aggregates that
    * frame, never the base table again. All outputs are exact integer
    * counts and single divisions — hash-stable in any engine.
    */
  def qKAnonymity(t: Tables, ks: Seq[Int] = Seq(2, 5, 10, 25)): DataFrame =
    t.customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("csize"),
        countDistinct(floor(col("c_acctbal") / 1000.0)).as("ldiv"))
      // class frame is dimension-sized: replicating it per candidate k is
      // a map-side explode, and the whole audit stays ONE base-table scan
      .select(col("csize"), col("ldiv"),
        explode(typedLit(ks.map(_.toLong))).as("k"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("csize") < col("k"), 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("csize") < col("k"), col("csize")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        sum("csize").as("n_rows"),
        min("csize").as("min_class"),
        min("ldiv").as("min_l"))
      .withColumn("risk_pct",
        col("rows_at_risk").cast("double") / col("n_rows").cast("double"))
      .select("k", "n_classes", "n_violating", "rows_at_risk", "n_rows",
        "risk_pct", "min_class", "min_l")
      .orderBy("k")

  /** Laplace-noise CALIBRATION AUDIT for a planned DP count release:
    * per-event-type counts with deterministic Laplace draws at a sweep of
    * epsilon budgets, true count alongside, so an analyst can inspect the
    * error/budget trade-off (|noise| vs 1/eps) BEFORE committing to a
    * release. Sensitivity is 1 (counts; one user-event changes a count by
    * one).
    *
    * This frame is NOT a differentially-private release and must never be
    * published: the noise seed is the public key (event_type, tag), so any
    * consumer can replay the draw and subtract it — and the exact count
    * `n` is emitted in the same row by design (the audit needs it). A real
    * release would (a) seed from a secret salt held outside the pipeline,
    * (b) drop `n` and `abs_err`, and (c) release `noisy_n` only. This
    * operator exists to validate the MECHANISM (inverse-CDF arithmetic,
    * scale b = 1/eps) reproducibly, which requires the public seed.
    *
    * The determinism that disqualifies it as a release is what makes it
    * testable: the uniform draw is an md5-derived 60-bit integer over
    * (key, epsilon tag) divided by 2^60 (a power of two, so the division
    * is exact), then the standard inverse CDF -b*sign(u-1/2)*ln(1-2|u-1/2|).
    * The DuckDB oracle replays the draw bit-for-bit; `ln` may differ by an
    * ulp across libm implementations, so values are rounded at 1e-9 (far
    * above the ulp, far below the noise scale). One hash aggregate over
    * the base table; the epsilon sweep explodes the event-type-sized
    * frame map-side.
    */
  def qDpRelease(t: Tables, epsTags: Seq[Int] = Seq(5, 10, 20)): DataFrame =
    t.events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        explode(typedLit(epsTags.map(_.toLong))).as("tag"))
      .withColumn("eps", col("tag").cast("double") / lit(10.0))
      .withColumn("u",
        expr("CAST(conv(substring(md5(concat('dp:', event_type, ':', " +
          "CAST(tag AS STRING))), 1, 15), 16, 10) AS DOUBLE)")
          / lit(1152921504606846976.0))
      .withColumn("c", col("u") - lit(0.5))
      // greatest() guards the measure-zero u in {0,1} edge from -inf
      .withColumn("noise",
        negate(lit(1.0) / col("eps")) * signum(col("c")) *
          log(greatest(lit(1.0) - lit(2.0) * abs(col("c")), lit(1e-18))))
      .select(
        col("event_type"),
        col("eps"),
        col("n"),
        round(col("n") + col("noise"), 9).as("noisy_n"),
        round(abs(col("noise")), 9).as("abs_err"))
      .orderBy("event_type", "eps")

  /** Small-file compaction plan: pack each language's documents into
    * ~`targetBytes` output files by a start-offset greedy cumsum
    * (bin = floor(bytes-before / target) — deterministic, no driver
    * loop), emitting the per-bin manifest a compactor would execute.
    * The running sum is windowed PER LANGUAGE — the write-partition key —
    * so no global order exists anywhere; a pathological single-language
    * corpus falls back to the [[graft.ops.Prefix]] range-partitioned
    * running sum. Byte sizes are octet_length (UTF-8 on-disk bytes), exact on
    * both engines.
    */
  def qCompactionPlan(t: Tables, targetBytes: Long = 65536L): DataFrame = {
    val byLang = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.documents
      .select(col("lang"), col("doc_id"),
        octet_length(col("text")).cast("long").as("bytes"))
      .withColumn("cumb", sum("bytes").over(byLang))
      .withColumn("bin", expr(s"(cumb - bytes) div ${targetBytes}L"))
      .groupBy("lang", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("bytes").as("bin_bytes"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("lang", "bin")
  }

  /** Poisson bootstrap confidence interval for the mean order value — THE
    * bootstrap that works on distributed data (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams"): instead of resampling n rows
    * with replacement (which needs global coordination), each row draws an
    * independent Poisson(1) replication count per replica, a pure
    * per-row projection.
    *
    * Determinism: the draw inverts the Poisson(1) CDF at an md5-derived
    * 32-bit uniform (leading 8 hex digits of md5(b‖':'‖o_orderkey)) against
    * PRECOMPUTED integer thresholds ⌊2³²·CDF(k)⌋ — integer compares only,
    * so every engine draws the same counts. Counts are truncated at 8
    * (P[X>8] ≈ 1.1e-6, bias far below the CI's resolution). Replica means
    * are exact cent sums over exact integer weights; the 95% CI picks
    * order statistics of the `nBoot` replica means (type-1, no
    * interpolation).
    *
    * Scale: the fact table crosses ONE shuffle as (replica → weighted
    * moment) partial aggregates — the explode is map-side and the
    * aggregate state is `nBoot` rows. The CI sort runs on the nBoot-row
    * frame (config-sized).
    */
  def qPoissonBootstrap(t: Tables, nBoot: Int = 100): DataFrame = {
    require(nBoot % 4 == 0, "nBoot must be a multiple of 4: the digest" +
      " yields four 32-bit uniforms")
    // ⌊2³²·CDF(k)⌋ for Poisson(1), k = 0..7; ≥ last ⇒ 8
    val cdf = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L)
    // one md5 per (order, 4-replica group): the 128-bit digest is four
    // independent 32-bit uniforms (hex slices [1,8]/[9,16]/[17,24]/
    // [25,32]) — replica b = 4g+s+1 reads slice s of digest g. The md5
    // is the dominant per-row cost of this query (round-9 full-plan
    // accounting: one-digest-per-replica measured 20.3 s at sf0.1), so
    // the digest is materialized as a COLUMN below the slice explode —
    // GenerateExec does no subexpression elimination, so an inlined
    // md5 inside the array would still hash once per slice, not per
    // digest (measured: no win until the digest became a column).
    val bu = array((0 until 4).map(s => struct(
      (col("g") * 4 + s + 1).cast("long").as("b"),
      conv(substring(col("h"), 1 + 8 * s, 8), 16, 10).cast("long")
        .as("u"))): _*)
    val draw = cdf.zipWithIndex.foldRight(lit(8L): org.apache.spark.sql.Column) {
      case ((thr, k), rest) => when(col("u") < thr, lit(k.toLong)).otherwise(rest)
    }
    // spread BEFORE the replica fan-out: a bench-scale orders file scans
    // as one task, and the explode multiplies ROWS, not partitions — the
    // nBoot-fold digest work would otherwise run single-threaded
    val replicas = graft.Engine.spread(t.orders)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        explode(sequence(lit(0), lit(nBoot / 4 - 1))).as("g"))
      .withColumn("h", md5(concat(col("g").cast("string"), lit(":"),
        col("o_orderkey").cast("string"))))
      .select(col("cents"), explode(bu).as("bu"))
      .select(col("cents"), col("bu.b").as("b"), col("bu.u").as("u"))
      .withColumn("w", draw)
      .groupBy("b")
      // weighted cent sum in DECIMAL: at full fact scale the w·cents
      // products overflow a long sum (silent wrap with ANSI off)
      .agg(sum("w").as("nw"),
        sum(expr("CAST(w * cents AS DECIMAL(28,0))")).as("cw"))
      .select(col("b"),
        (col("cw").cast("double") / col("nw").cast("double")).as("mean_b"))
    val byMean = Window.orderBy(col("mean_b"), col("b"))
    val point = t.orders.agg(
      (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).cast("double") /
        count(lit(1)).cast("double")).as("mean_cents"))
    // rank window over the nBoot-row replica frame: config-sized
    replicas
      .withColumn("i", row_number().over(byMean).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      .crossJoin(broadcast(point))
      .agg(
        max("mean_cents").as("mc"),
        count(lit(1)).as("n_boot"),
        // type-1 order statistics at 2.5% / 97.5%: ranks ⌈q·n⌉
        max(when(col("i") === expr("CAST((25 * nn + 999) div 1000 AS BIGINT)"),
          col("mean_b"))).as("lo"),
        max(when(col("i") === expr("CAST((975 * nn + 999) div 1000 AS BIGINT)"),
          col("mean_b"))).as("hi"))
      .select(round(col("mc"), 6).as("mean_cents"), col("n_boot"),
        round(col("lo"), 6).as("ci_lo_cents"),
        round(col("hi"), 6).as("ci_hi_cents"))
  }

  /** Weighted sample without replacement, k docs per language, inclusion
    * probability ∝ document length — Efraimidis–Spirakis A-ES keys: doc i
    * survives with key u_i^(1/w_i), equivalently by SMALLEST
    * −ln(u_i)/w_i, computable independently per row and mergeable as a
    * bounded top-k — the one weighted-sampling scheme that needs no
    * global pass, so it distributes (and streams) for free.
    *
    * Determinism: u_i is the md5-derived 32-bit uniform of the document's
    * content hash ((U+1)/2³² ∈ (0,1], an EXACT double); −ln(u) is pinned
    * to integer micro-nats, and the key is one IEEE division of exact
    * integers (micro-nats over n_chars) — identical on every engine, ties
    * broken by doc_id.
    *
    * Scale: per-row key projection, then a per-language rank — bounded by
    * the stratum-size contract every sampler here accepts; the
    * bounded_topk aggregate form ships k rows per map task for hot
    * strata.
    */
  def qWeightedSample(t: Tables, k: Int = 5): DataFrame = {
    val u32 = conv(substring(hashKey("text", "doc_id"), 1, 8), 16, 10)
      .cast("long")
    val byLang = Window.partitionBy("lang")
      .orderBy(col("key"), col("doc_id"))
    t.documents
      .select(col("lang"), col("doc_id"), col("n_chars"), u32.as("u32"))
      .withColumn("lnu_u", expr(
        "CAST(round(-ln((u32 + 1) / 4294967296.0) * 1000000) AS BIGINT)"))
      .withColumn("key",
        col("lnu_u").cast("double") / col("n_chars").cast("double"))
      .withColumn("rnk", row_number().over(byLang).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"),
        col("lnu_u"), round(col("key"), 9).as("key"))
      .orderBy("lang", "rnk")
  }
}
