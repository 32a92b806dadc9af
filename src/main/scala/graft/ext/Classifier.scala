package graft.ext

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed training of a document-quality classifier WITHOUT MLlib:
  * logistic regression by a fixed number of full-batch gradient-descent
  * rounds, driver-orchestrated in the engine's iterative-loop convention
  * (each round = ONE aggregate over the feature frame; only 5 gradient
  * scalars ever reach the driver — the same shape as PageRank's rounds or
  * Lloyd's iterations, so it runs unchanged on a 1000-executor corpus).
  *
  * Engine-exactness (the interesting part): gradients are summed in
  * integer MICRO-UNITS. Per row, the residual g = y − σ(w·x) and each
  * feature are rounded to 6 decimals and scaled to 64-bit integers; the
  * per-feature gradient is Σ gu·xu in DECIMAL(38,0) — an order-free
  * integer sum — and the weight update divides back to double with the
  * identical expression on both engines. The only transcendental is
  * exp() inside σ, immediately rounded at 1e-6, so a last-ulp libm
  * disagreement cannot reach the sums. The DuckDB oracle unrolls the
  * same three rounds as chained CTEs and reproduces the weights
  * bit-for-bit — a trained model as a hash-checked query result.
  *
  * Features (all in [0,1], pinned at 1e-6): token count saturation,
  * distinct-token ratio, average-word-length saturation — the
  * [[TextAnalysis.qualityExpr]] terms. Label: lang = 'en' (a stand-in
  * for "high-quality" labels a production pipeline would source from
  * human raters or a teacher model).
  */
object Classifier {

  val Scale: Long = 1000000L // 1e6: micro-unit fixed point

  /** Feature frame: integer micro-unit features x0..x4 (x0 = bias) and
    * the 0/1 label. Map-side only.
    */
  def features(t: Tables): DataFrame = {
    val toks = split(trim(col("text")), " +")
    val n = TextAnalysis.tokenCount(col("text")).cast("double")
    val nd = size(array_distinct(toks)).cast("double")
    val awl = (length(trim(col("text"))) - (size(toks) - 1)).cast("double") /
      size(toks)
    // the one genuinely label-predictive feature: English marker-word
    // rate (the lang-id markers), saturated at 10 per 100 tokens
    val mk = expr(
      """size(filter(split(trim(text), ' +'),
           t -> t in ('the', 'data', 'query')))""").cast("double")
    def micro(c: Column): Column = round(c * Scale, 0).cast("long")
    t.documents.select(
      col("doc_id"),
      lit(Scale).as("x0_u"),
      micro(least(n / 100.0, lit(1.0))).as("x1_u"),
      micro(nd / size(toks)).as("x2_u"),
      micro(least(awl / 10.0, lit(1.0))).as("x3_u"),
      micro(least(mk * 10.0 / size(toks), lit(1.0))).as("x4_u"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
  }

  /** One GD round: returns the updated weights. `eta` is the learning
    * rate; the gradient aggregate runs distributed, only 5 scalars and
    * the (loop-invariant) row count come back.
    */
  private def roundGd(weights: Seq[Double], feat: DataFrame, nRows: Long,
      eta: Double): Seq[Double] = {
    val z = sigmaZ(weights)
    // gu: residual in micro-units, pinned BEFORE the sums so a last-ulp
    // exp() disagreement cannot propagate
    val gu = (round(
      (col("y").cast("double") - lit(1.0) /
        (lit(1.0) + exp(-z))) * Scale, 0)).cast("long")
    val sums = feat
      .withColumn("gu", gu)
      .agg(
        sum((col("gu") * col("x0_u")).cast(DecimalType(38, 0))).as("s0"),
        sum((col("gu") * col("x1_u")).cast(DecimalType(38, 0))).as("s1"),
        sum((col("gu") * col("x2_u")).cast(DecimalType(38, 0))).as("s2"),
        sum((col("gu") * col("x3_u")).cast(DecimalType(38, 0))).as("s3"),
        sum((col("gu") * col("x4_u")).cast(DecimalType(38, 0))).as("s4"))
      .head()
    // denominator = n · Scale² as a double product — both engines compute
    // the identical IEEE expression
    val den = nRows.toDouble * Scale.toDouble * Scale.toDouble
    weights.zipWithIndex.map { case (w, j) =>
      w + eta * sums.getDecimal(j).doubleValue() / den
    }
  }

  /** z = w·x as a double expression over the micro-unit features; the
    * xu/1e6 reconstruction keeps the feature doubles bit-identical to
    * the oracle's.
    */
  private def sigmaZ(weights: Seq[Double]): Column =
    Seq("x0_u", "x1_u", "x2_u", "x3_u", "x4_u").zip(weights)
      .map { case (c, w) =>
        lit(w) * (col(c).cast("double") / lit(Scale.toDouble))
      }
      .reduce(_ + _)

  /** The trained-model queries' shared prologue and epilogue: materialize
    * the feature frame (its row count is the checkpoint's witness), train
    * `rounds` full-batch GD rounds from w = 0, then materialize the query's
    * own `result` over the features and weights and free the features.
    */
  private def trained(t: Tables, rounds: Int, eta: Double)(
      result: (DataFrame, Seq[Double]) => DataFrame): DataFrame = {
    val (feat, n) = graft.Engine.loopCheckpointWith(features(t))(_.count())
    var w: Seq[Double] = Seq(0.0, 0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to rounds) w = roundGd(w, feat, n, eta)
    val out = graft.Engine.loopCheckpoint(result(feat, w))
    graft.Engine.freeCheckpoint(feat)
    out
  }

  /** Train `rounds` full-batch GD rounds from w = 0 and emit one graded
    * row: weights plus in-sample accuracy at the 0.5 threshold (an
    * INTEGER count — pred = σ(z) ≥ 0.5 ⟺ z ≥ 0, so the cut never
    * touches the transcendental).
    */
  def qLrTrain(t: Tables, rounds: Int = 3, eta: Double = 6.0): DataFrame =
    trained(t, rounds, eta) { (feat, w) =>
      val z = sigmaZ(w)
      feat
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when((z >= 0.0) === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"),
          sum("y").as("n_pos"))
        .select(
          col("n_docs"), col("n_pos"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_docs").cast("double"))
            .as("accuracy"),
          lit(w(0)).as("w0"), lit(w(1)).as("w1"),
          lit(w(2)).as("w2"), lit(w(3)).as("w3"), lit(w(4)).as("w4"))
    }

  /** Multinomial Naive Bayes language classifier, trained and applied in
    * one query, graded as its CONFUSION MATRIX — the generative
    * counterpart to [[qLrTrain]]'s discriminative model. Laplace-smoothed
    * log-likelihoods ln((c(l,w)+1)/(c(l)+V)) and document priors are
    * rounded at 1e-9 into DECIMAL (the engine's standard recipe for
    * transcendentals), so per-document score sums are exact and the
    * argmax — min(struct(-score, lang)), ties to the smaller language —
    * is engine-identical.
    *
    * Scale shape: class-word counts and the vocabulary are hash
    * aggregates over the token stream (map-side combined); the dense
    * (vocab × lang) likelihood table is vocabulary-sized and BROADCASTS
    * into the per-document term-frequency stream; scoring is one
    * (doc, lang)-keyed aggregate. Documents with no tokens still score
    * via the prior-only base frame, so the matrix covers every document.
    */
  def qNbConfusion(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"), col("lang"),
      Dedup.words(col("text")).as("ws"))
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(col("ws")).as("word"))
      .filter(length(col("word")) > 0)
    // per-class token totals and class-word occurrence counts
    val clsTok = tok.groupBy(col("lang").as("l"))
      .agg(count(lit(1)).as("cl"))
    val clsWord = tok.groupBy(col("lang").as("l"), col("word"))
      .agg(count(lit(1)).as("clw"))
    val vocab = tok.select("word").distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    // dense vocab x lang log-likelihoods (Laplace +1); vocabulary-sized
    val lp = vocab.crossJoin(broadcast(clsTok))
      .join(clsWord, Seq("l", "word"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("l"), col("word"),
        round(log(
          (coalesce(col("clw"), lit(0L)) + lit(1L)).cast("double") /
            (col("cl") + col("v")).cast("double")), 9)
          .cast(DecimalType(18, 9)).as("lp"))
    // document priors from class document counts
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val prior = docs.groupBy(col("lang").as("l"))
      .agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(nDocs))
      .select(col("l"),
        round(log(col("nl").cast("double") / col("n").cast("double")), 9)
          .cast(DecimalType(18, 9)).as("lprior"))
    // per-(doc, lang) word-likelihood sums over the tf stream
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tfreq"))
    val wordScore = tf
      .join(broadcast(lp), "word")
      .groupBy("doc_id", "l")
      .agg(sum(col("tfreq") * col("lp")).as("ws_sum"))
    // prior-only base covers empty documents too
    val scored = docs.select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(prior))
      .join(wordScore, Seq("doc_id", "l"), "left")
      .select(col("doc_id"), col("lang"), col("l"),
        (col("lprior") +
          coalesce(col("ws_sum"), lit(0).cast(DecimalType(18, 9))))
          .as("score"))
    scored
      .groupBy("doc_id", "lang")
      .agg(min(struct((-col("score")).as("ns"), col("l").as("pl"))).as("best"))
      .groupBy(col("lang").as("actual_lang"),
        col("best.pl").as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Reliability diagram for the trained model: predicted-probability
    * deciles vs observed positive rate — the calibration check that turns
    * a trained classifier into a usable corpus-filter threshold. The bin
    * key floors the micro-rounded σ, so bin membership is decided on the
    * pinned value, not the raw transcendental.
    */
  def qLrCalibration(t: Tables, rounds: Int = 3, eta: Double = 6.0): DataFrame =
    trained(t, rounds, eta) { (feat, w) =>
      val sigu = round(lit(Scale.toDouble) /
        (lit(1.0) + exp(-sigmaZ(w))), 0).cast("long")
      feat
        .withColumn("su", sigu)
        .withColumn("bin", least(expr(s"su * 10 div $Scale"), lit(9L)))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("y").as("n_pos"),
          sum("su").as("su_sum"))
        .select(
          col("bin"), col("n_docs"), col("n_pos"),
          (col("n_pos").cast("double") / col("n_docs").cast("double"))
            .as("observed_rate"),
          (col("su_sum").cast("double") /
            (col("n_docs").cast("double") * Scale.toDouble))
            .as("mean_predicted"))
        .orderBy("bin")
    }

  /** Hosmer–Lemeshow goodness-of-fit over the same trained model and
    * score deciles as [[qLrCalibration]]: χ² = Σ (O−E)²/(E(1−E/n)) per
    * bin, where O is the observed positive count and E the sum of
    * predicted probabilities — the single-number answer to "is this
    * calibration table acceptable". Per-bin terms round to DECIMAL at
    * 1e-9 before the sum, so the 10-term reduction is exact decimal
    * arithmetic (summation-order-free) and the scaled integer stays far
    * under 2⁵³ (both engines' decimal→double casts are then exact).
    */
  def qHosmerLemeshow(
      t: Tables, rounds: Int = 3, eta: Double = 6.0): DataFrame =
    trained(t, rounds, eta) { (feat, w) =>
      val sigu = round(lit(Scale.toDouble) /
        (lit(1.0) + exp(-sigmaZ(w))), 0).cast("long")
      val scored = feat.withColumn("su", sigu)
      // equal-FREQUENCY deciles (the textbook HL grouping — fixed-width
      // value bins degenerate when scores cluster): boundaries from one
      // exact-percentile aggregate, broadcast back as a 1-row frame. A
      // global ntile window would be the single-partition trap; the
      // boundary comparison is embarrassingly parallel.
      val bounds = scored.agg(expr(
        "percentile(su, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("qb"))
      val e = col("su_sum").cast("double") / lit(Scale.toDouble)
      val o = col("o").cast("double")
      scored
        .crossJoin(broadcast(bounds))
        .withColumn("bin", expr(
          "aggregate(qb, 0L, (acc, q) -> acc + (CASE WHEN su > q THEN 1L ELSE 0L END))"))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n"),
          sum("y").as("o"),
          sum("su").as("su_sum"))
        .select(round((o - e) * (o - e) /
            (e * (lit(1.0) - e / col("n").cast("double"))), 9)
          .cast(DecimalType(24, 9)).as("term"))
        .agg(
          count(lit(1)).as("n_bins"),
          (count(lit(1)) - 2).as("df"),
          sum("term").cast("double").as("hl_stat"))
    }

  /** Isotonic (monotone) calibration of the heuristic quality score
    * against the is-English label — the standard recalibration step when a
    * ranking score must become a probability: fit the least-squares
    * MONOTONE rate curve over score bins (pool-adjacent-violators), so a
    * higher quality bin never predicts a lower label rate.
    *
    * Algorithm: the PAVA fit has the closed minimax form
    * fitted(i) = max_{j≤i} min_{k≥i} rate(j..k), where rate(j..k) is the
    * POOLED positive rate over bins j..k — exact integer prefix-sum
    * differences divided once (IEEE-exact), so min/max over those doubles
    * is engine-identical and the whole fit is hash-checkable (no
    * iterative pooling to replicate).
    *
    * Scale: the corpus collapses to a ≤`nBins`-row bin frame in ONE
    * map-side-combined aggregate; the O(bins²) range enumeration and the
    * minimax join run on that config-sized frame (broadcast joins, never
    * data-sized). Bin count is config — 20 here — so the quadratic is a
    * constant, independent of corpus size.
    */
  def qIsotonicCalibration(t: Tables, nBins: Int = 20): DataFrame = {
    val bins = t.documents
      .select(
        least(floor(TextAnalysis.qualityExpr(col("text")) * nBins),
          lit(nBins - 1)).cast("long").as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"))
    // prefix sums over the bin frame: single-partition window on ≤20 rows
    // (config-sized, not data-sized — the documented exception)
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("cn", sum("n_docs").over(w))
      .withColumn("cp", sum("n_pos").over(w))
    val lo = pre.select(col("bin").as("j"),
      (col("cn") - col("n_docs")).as("cn_lo"),
      (col("cp") - col("n_pos")).as("cp_lo"))
    val hi = pre.select(col("bin").as("k"),
      col("cn").as("cn_hi"), col("cp").as("cp_hi"))
    // pooled rate of every bin range [j, k]: exact integer differences,
    // one double division
    val ranges = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cp_hi") - col("cp_lo")).cast("double") /
          (col("cn_hi") - col("cn_lo")).cast("double")).as("r"))
    val fitted = bins.select(col("bin"))
      .join(broadcast(ranges),
        col("j") <= col("bin") && col("bin") <= col("k"))
      .groupBy("bin", "j").agg(min("r").as("mr"))
      .groupBy("bin").agg(max("mr").as("fitted_rate"))
    bins.join(fitted, "bin")
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 9)
          .as("observed_rate"),
        round(col("fitted_rate"), 9).as("fitted_rate"))
      .orderBy("bin")
  }

  /** Precision–recall AUC (average precision) of the quality score
    * against the is-English label — the ranking metric that matters when
    * positives are rare ([[Stats.qScoreAuc]]'s ROC view saturates under
    * imbalance; AP weighs every retrieved positive by the precision at
    * its rank). AP = (1/P) Σ_{k: y_k = 1} precision@k under the
    * DETERMINISTIC total order (score desc, doc_id asc) — tie handling is
    * part of the spec, so the value is exact and hash-checkable.
    *
    * Exactness: each precision@k is one IEEE division of exact integers,
    * pinned at 1e-9 into DECIMAL before the order-free sum.
    *
    * Scale: the rank and the running positive count come from the
    * [[graft.ops.Prefix]] operator — no single-partition window.
    */
  def qPrAuc(t: Tables): DataFrame = {
    // rank + running positive count via the two-pass prefix (guide
    // §2.4/§5): the scored frame is document-scaling, so the old
    // single-partition rank/cumsum windows were a serial funnel; long
    // sums and row numbers are regrouping-exact — identical values
    val scored = t.documents
      .select(col("doc_id"),
        round(TextAnalysis.qualityExpr(col("text")), 6).as("p"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    graft.ops.Prefix.running(scored, Seq(col("p").desc, col("doc_id")),
        Seq(graft.ops.Prefix.Running("cum_pos", col("y"))),
        rowNumber = Some("k"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("y").as("n_pos"),
        sum(when(col("y") === 1L,
          round(col("cum_pos").cast("double") / col("k").cast("double"), 9)
            .cast(DecimalType(12, 9)))).as("ap_sum"),
        max(when(col("k") === 10L, col("cum_pos"))).as("pos_at_10"))
      .select(col("n_docs"), col("n_pos"),
        round(col("ap_sum").cast("double") / col("n_pos").cast("double"), 9)
          .as("avg_precision"),
        (col("pos_at_10").cast("double") / 10.0).as("p_at_10"))
  }

  /** Brier score with the Murphy decomposition (reliability − resolution
    * + uncertainty) of the quality score as a probability forecast of
    * is-English — the proper-scoring-rule companion to
    * [[qIsotonicCalibration]]: reliability IS the squared calibration
    * error the isotonic fit removes, resolution is what the score knows.
    *
    * Exactness: the forecast is pinned at 1e-6 into DECIMAL, so the Brier
    * sum Σ(p−y)² is exact decimal arithmetic; the per-bin squared terms
    * are fixed double chains over exact bin sums, pinned at 1e-12 and
    * weighted by exact counts. Each surfaced value is one final double
    * division.
    *
    * Scale: corpus → one 10-row bin frame (map-side combine) + one scalar
    * frame; the decomposition runs on broadcast-joined config-sized
    * frames.
    */
  def qBrierDecomp(t: Tables, nBins: Int = 10): DataFrame =
    brierEpilogue(brierBins(t.documents, nBins))

  /** Stateful half of [[qBrierDecomp]], shared with the streaming drain:
    * forecast in integer MICRO-UNITS (never a computed double cast to
    * decimal — the engines round the cast differently near boundaries;
    * same convention as the GD gradients above): pu ∈ [0, 1e6], so
    * (pu − 1e6·y)² is an exact long and every moment sum is integer —
    * per-bin state merges exactly across microbatches in any order.
    */
  private[graft] def brierBins(docs: DataFrame, nBins: Int = 10): DataFrame =
    docs.select(
        round(TextAnalysis.qualityExpr(col("text")) * Scale, 0).cast("long")
          .as("pu"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(least(expr(s"pu div ${Scale / nBins}"), lit(nBins - 1L))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("nk"), sum("pu").as("spu"), sum("y").as("sy"),
        sum(((col("pu") - col("y") * Scale) * (col("pu") - col("y") * Scale))
          .cast(DecimalType(30, 0))).as("squ_k"))

  /** Decomposition epilogue over the bin frame: the corpus totals are the
    * bin sums, so the whole statistic derives from the ≤nBins-row state.
    * Per-bin squared gaps: exact integer numerators, ONE double division
    * each, square, pinned at 1e-12 before the count-weighted decimal sum.
    */
  private[graft] def brierEpilogue(bins: DataFrame): DataFrame = {
    val totals = bins.agg(
      sum("nk").as("n"),
      sum("sy").as("npos"),
      sum("squ_k").as("squ"))
    bins.crossJoin(broadcast(totals))
      .select(col("bin"), col("nk"), col("n"), col("npos"), col("squ"),
        round(
          ((col("spu") - col("sy") * Scale).cast("double") /
            (col("nk") * Scale).cast("double")) *
          ((col("spu") - col("sy") * Scale).cast("double") /
            (col("nk") * Scale).cast("double")), 12)
          .cast(DecimalType(16, 12)).as("rel_t"),
        round(
          (col("sy").cast("double") / col("nk").cast("double") -
            col("npos").cast("double") / col("n").cast("double")) *
          (col("sy").cast("double") / col("nk").cast("double") -
            col("npos").cast("double") / col("n").cast("double")), 12)
          .cast(DecimalType(16, 12)).as("res_t"))
      .groupBy("n", "npos", "squ")
      .agg(
        sum(col("rel_t") * col("nk").cast(DecimalType(12, 0))).as("rel_s"),
        sum(col("res_t") * col("nk").cast(DecimalType(12, 0))).as("res_s"))
      .select(
        col("n").as("n_docs"),
        // raw doubles out: numerators exact, one division each
        (col("squ").cast("double") /
          (col("n").cast("double") * 1e12)).as("brier"),
        (col("rel_s").cast("double") / col("n").cast("double"))
          .as("reliability"),
        (col("res_s").cast("double") / col("n").cast("double"))
          .as("resolution"),
        ((col("npos").cast("double") / col("n").cast("double")) *
          (lit(1.0) - col("npos").cast("double") / col("n").cast("double")))
          .as("uncertainty"))
  }
}
