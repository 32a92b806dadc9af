package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.SparkSessionExtensions

/** Everything graft adds to Spark, in one list: the native SQL functions,
  * the as-of and prefix planner strategies, and the `BandRangeJoin`
  * optimizer rule. `Engine.local()` builds its session with it
  * (`SparkSession.builder.withExtensions`); a cluster names it in
  * `spark.sql.extensions`; `Engine.tune` applies it in place to a session
  * built without it.
  *
  * SQL surface: `cosine_sim(array<double>, array<double>) -> double`,
  * `simhash64(array<string>) -> bigint`, and the rest of [[functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.PrefixStrategy)
    e.injectOptimizerRule(_ => graft.plans.BandRangeJoin)
  }
}

object GraftExtensions {

  // strict: a present-but-wrong argument (e.g. `5L`, a non-literal) must
  // fail loudly, not silently run with the default
  private def intLit(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected a literal INT argument, got $other")
  }

  private def boolLit(fn: String, e: Expression): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected a literal BOOLEAN argument, got $other")
  }

  private def topkBuilder(args: Seq[Expression]): Expression = {
    val k = if (args.length > 1) intLit("bounded_topk", args(1)) else 3
    val idAsc = if (args.length > 2) boolLit("bounded_topk", args(2)) else true
    BoundedTopK(args.head, k, idAsc)
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", args => CosineSim(args(0), args(1))),
    ("shingle_hashes", args => ShingleHashes(args(0),
      if (args.length > 1) intLit("shingle_hashes", args(1)) else 3)),
    ("minhash_sig_longs", args => MinHashSigLongs(args(0),
      if (args.length > 1) intLit("minhash_sig_longs", args(1)) else 32)),
    ("simhash64", args => SimHash64(args.head)),
    ("portable_simhash", args => PortableSimhash60(args.head)),
    ("hyperplane_sig", args => HyperplaneSig(args(0),
      if (args.length > 1) intLit("hyperplane_sig", args(1)) else 64)),
    ("poly_hash", args => PolyHash64(args.head)),
    ("word_shingles", args => WordShingles(args(0),
      if (args.length > 1) intLit("word_shingles", args(1)) else 3)),
    ("bounded_topk", topkBuilder),
    ("jaro_winkler", args => JaroWinkler(args(0), args(1))),
    ("morton_code", args => MortonCode(args(0), args(1))),
    ("vector_sum", args => VectorSum(args.head)),
    ("nearest_centroid", args => NearestCentroid(args(0), args(1))),
    ("nearest_cell_l2",
      args => NearestCellL2(args(0), args(1), args(2), args(3))),
    // Spark's built-in runtime-filtering expressions, surfaced as SQL
    // functions: bloom_filter_agg(xxhash64(key)[, estItems[, numBits]])
    // builds the filter as a binary aggregate; might_contain(bloom, hash)
    // probes it. Used by the bloom-prefiltered join operator.
    ("bloom_filter_agg", args => args.length match {
      case 1 => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(args(0))
      case 2 => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(args(0), args(1))
      case _ => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(args(0), args(1), args(2))
    }),
    ("might_contain", args => org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(args(0), args(1))),
    // count-min-sketch point probe (the read side of Spark's built-in
    // count_min_sketch aggregate); sketch arg must be query-constant
    ("cms_estimate", args => CmsEstimate(args(0), args(1))))
}
