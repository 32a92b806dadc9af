package graft

import graft.ext.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.ops.{Analytics, Skew, Stats}

import org.apache.spark.sql.functions._

/** Round-4 analytics operators: reshaping, gap filling, bloom prefilter,
  * salted aggregation, profiling, sharding, quantization, fuzzy dedup.
  */
class AnalyticsSpec extends SparkSuite {
  import spark.implicits._

  test("unpivot emits one row per (input row, measure) and keeps values") {
    val in = tables.lineitem.filter(pmod(col("l_orderkey"), lit(500)) === 0)
    val out = Analytics.qUnpivotMeasures(tables)
    assert(out.count() == 4 * in.count())
    // spot-check: the l_quantity rows carry the source values
    val qty = out.filter(col("measure") === "l_quantity")
      .select("l_orderkey", "l_linenumber", "val")
      .as[(Long, Long, Double)].collect().toSet
    val src = in.select(col("l_orderkey"), col("l_linenumber").cast("long"),
      col("l_quantity")).as[(Long, Long, Double)].collect().toSet
    assert(qty == src)
  }

  test("gap fill: present hours keep their mean; gaps interpolate between neighbors") {
    val out = Analytics.qGapFill(tables).collect()
    val filled = out.filter(_.getLong(4) == 1)
    assert(filled.nonEmpty, "test corpus produced no gaps")
    filled.foreach { r =>
      assert(r.getLong(2) == 0)          // n = 0 on filled rows
      assert(!r.isNullAt(3))             // interpolated value present
    }
    // interior interpolation lies within the neighbor value envelope:
    // group rows per type in hour order and check each filled value
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val seq = rows.sortBy(_.getString(0))
      seq.indices.foreach { i =>
        if (seq(i).getLong(4) == 1) {
          val prev = seq.take(i).reverse.find(_.getLong(2) > 0)
          val next = seq.drop(i + 1).find(_.getLong(2) > 0)
          (prev, next) match {
            case (Some(p), Some(n)) =>
              val lo = math.min(p.getDouble(3), n.getDouble(3))
              val hi = math.max(p.getDouble(3), n.getDouble(3))
              val v = seq(i).getDouble(3)
              assert(v >= lo - 1e-9 && v <= hi + 1e-9,
                s"interpolated $v outside [$lo, $hi]")
            case _ => fail("filled row without both neighbors")
          }
        }
      }
    }
  }

  test("bloom prefilter prunes non-matching customers and the final output is exact") {
    val pre = Analytics.bloomPrefilterOnly(tables).count()
    val exact = Analytics.qBloomPrefilter(tables).count()
    val total = tables.customer.count()
    val expected = tables.customer.join(
      tables.orders.filter(year(col("o_orderdate")) === 1998)
        .select("o_custkey"),
      col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(exact == expected, "bloom path result differs from plain semi join")
    assert(pre >= exact, "bloom must never drop a true match")
    assert(pre < total, "bloom prefilter did not prune anything")
  }

  test("salted two-phase aggregation is bit-identical to the direct groupBy") {
    val salted = Skew.qSkewSaltedAgg(tables)
      .as[(Long, Long, Double)].collect().toSeq
    val direct = tables.lineitem
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_val"))
      .orderBy("l_suppkey")
      .as[(Long, Long, Double)].collect().toSeq
    assert(salted == direct)
  }

  test("profile: key column is unique and non-null, string columns have no numeric range") {
    val p = Analytics.qProfileColumns(tables).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = tables.orders.count()
    assert(p("o_orderkey").getLong(1) == n)
    assert(p("o_orderkey").getLong(2) == 0)
    assert(p("o_orderkey").getLong(3) == n) // primary key: all distinct
    assert(p("o_orderstatus").isNullAt(4) && p("o_orderstatus").isNullAt(5))
    assert(!p("o_totalprice").isNullAt(4) && !p("o_totalprice").isNullAt(5))
  }

  test("yoy growth: first year per nation has null prev/growth, later years don't") {
    val rows = Analytics.qYoyGrowth(tables).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val byYr = rs.sortBy(_.getLong(0))
      assert(byYr.head.isNullAt(3) && byYr.head.isNullAt(4))
      byYr.tail.foreach(r => assert(!r.isNullAt(3) && !r.isNullAt(4)))
    }
  }

  test("window shares: share in (0,1], cume_dist in (0,1]") {
    Analytics.qWindowShares(tables).collect().foreach { r =>
      val share = r.getDouble(4)
      val cd = r.getDouble(5)
      assert(share > 0 && share <= 1 + 1e-12, s"share=$share")
      assert(cd > 0 && cd <= 1.0, s"cd=$cd")
    }
  }

  test("train shards cover all docs with shards in range") {
    val out = Sampling.qTrainShards(tables).collect()
    assert(out.map(_.getLong(1)).sum == tables.documents.count())
    assert(out.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
  }

  test("quantization codes are within int8 range and reconstruction error is bounded") {
    val rows = Similarity.qEmbedQuantize(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mx = r.getDouble(1)
      val maxErr = r.getDouble(4)
      // rounding to the nearest code can miss by at most half a step
      assert(maxErr <= mx / 127.0 / 2.0 + 1e-12,
        s"max_err=$maxErr exceeds half a quantization step (mx=$mx)")
    }
  }

  test("fuzzy name pairs are blocked, ordered, and within the distance bound") {
    val rows = Dedup.qFuzzyNames(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 3)
    }
  }

  test("label centroids: vector_sum means equal the posexplode reference") {
    val fast = Similarity.qLabelCentroids(tables)
      .select("label", "dim", "sum_milli")
      .as[(Long, Long, Long)].collect().toSet
    val ref = tables.embeddings
      .select(col("label").cast("long").as("label"),
        posexplode(transform(col("embedding").cast("array<double>"),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("long")))
          .as(Seq("dim", "m")))
      .groupBy("label", "dim")
      .agg(sum("m").as("s"))
      .select(col("label"), col("dim").cast("long"), col("s"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fast == ref)
  }

  test("vector_sum rejects non-double arrays instead of reinterpreting bits") {
    val df = Seq((1, Seq(1L, 2L))).toDF("k", "v")
    val e = intercept[Exception] {
      df.groupBy("k").agg(call_function("vector_sum", col("v"))).collect()
    }
    assert(e.getMessage.contains("array<double>")
      || e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("correlation matrix values are valid correlations") {
    val rows = Stats.qCorrMatrix(tables).collect()
    assert(rows.length == 9) // 3 return flags x 3 pairs
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr=$c")
    }
  }

  test("quality funnel counts are consistent") {
    val rows = TextAnalysis.qQualityFunnel(tables).collect()
    assert(rows.map(_.getLong(1)).sum == tables.documents.count())
    rows.foreach { r =>
      val n = r.getLong(1)
      Seq(2, 3, 4, 5).foreach(i =>
        assert(r.getLong(i) >= 0 && r.getLong(i) <= n))
      // kept = passed every gate, so kept + max(any gate) <= n
      assert(r.getLong(5) + Seq(2, 3, 4).map(r.getLong).max <= n)
    }
  }

  test("bigram surprisal is non-negative and covers the sampled docs with bigrams") {
    val rows = TextAnalysis.qBigramSurprisal(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0))
  }

  test("cross-source overlap pairs are ordered and non-trivial on the test corpus") {
    val rows = Dedup.qCrossSourceOverlap(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) > 0)
    }
  }

  test("KMV source overlap: all pairs covered, estimates well-formed") {
    val rows = Dedup.qSourceOverlap(tables).collect()
    val nSrc = tables.documents.select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1) / 2, s"${rows.length} pairs")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      val (unionK, both, est) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(unionK > 0 && unionK <= 128)
      assert(both >= 0 && both <= unionK)
      assert(est == both.toDouble / unionK.toDouble)
    }
    // the test corpus shares vocabulary across sources, so SOME pair
    // must register shingle-level overlap
    assert(rows.exists(_.getLong(3) > 0), "no overlap detected anywhere")
  }

  test("boilerplate audit: exact count arithmetic and a flagged tail") {
    val rows = TextAnalysis.qBoilerplate(tables).collect()
    assert(rows.nonEmpty)
    var totalDocs = 0L
    rows.foreach { r =>
      val (nDocs, nPos, nBoiler, nFlagged, cov) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))
      totalDocs += nDocs
      assert(nBoiler >= 0 && nBoiler <= nPos)
      assert(nFlagged >= 0 && nFlagged <= nDocs)
      assert(cov == nBoiler.toDouble / nPos.toDouble)
    }
    assert(totalDocs == tables.documents.count())
  }

  test("SCD2 intervals are contiguous with exactly one open row per entity") {
    val rows = Analytics.qScd2Intervals(tables).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (ck, rs) =>
      val sorted = rs.sortBy(r => (r.getString(2), r.getLong(1)))
      assert(sorted.count(_.getLong(4) == 1) == 1,
        s"customer $ck: not exactly one current row")
      assert(sorted.last.getLong(4) == 1 && sorted.last.isNullAt(3))
      sorted.dropRight(1).zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getString(3) == b.getString(2),
          s"customer $ck: interval gap ${a.getString(3)} -> ${b.getString(2)}")
      }
    }
  }

  test("key skew profile: consistent counts and ordered percentiles") {
    val rows = Analytics.qKeySkew(tables).collect()
    assert(rows.length == 2)
    val total = tables.lineitem.count()
    rows.foreach { r =>
      assert(r.getLong(2) == total)
      assert(r.getDouble(4) <= r.getDouble(5) + 1e-9)        // p50 <= p99
      assert(r.getDouble(5) <= r.getLong(3).toDouble + 1e-9) // p99 <= max
      val share = r.getDouble(6)
      assert(share > 0 && share <= 1.0)
    }
  }

  test("moving average stays within the customer's price envelope") {
    val bounds = tables.orders
      .groupBy("o_custkey")
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    Analytics.qMovingAvg(tables).collect().foreach { r =>
      val (lo, hi) = bounds(r.getLong(0))
      val ma = r.getDouble(3)
      assert(ma >= lo - 1e-9 && ma <= hi + 1e-9, s"ma5=$ma outside [$lo,$hi]")
    }
  }

  test("RFM census covers every customer once with quartile scores in 1..4") {
    val seg = Analytics.qRfmSegments(tables).collect()
    val nCustomers = tables.orders.select("o_custkey").distinct().count()
    assert(seg.map(_.getLong(3)).sum == nCustomers)
    seg.foreach { r =>
      (0 to 2).foreach(i => assert(r.getLong(i) >= 1 && r.getLong(i) <= 4))
    }
    // quartile cuts split customers into rough fourths per dimension
    val byR = seg.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(byR.size == 4)
    byR.values.foreach(n =>
      assert(n > nCustomers / 8 && n < nCustomers * 3 / 8, s"lopsided: $byR"))
  }

  test("order gaps: every customer with k orders contributes k-1 gaps") {
    val gaps = Analytics.qOrderGaps(tables).collect()
    val nOrders = tables.orders.count()
    val nCust = tables.orders.select("o_custkey").distinct().count()
    assert(gaps.map(_.getLong(1)).sum == nOrders - nCust)
    gaps.foreach { r =>
      assert(r.getLong(2) >= r.getLong(0) * 30)      // min inside bucket
      assert(r.getLong(3) < (r.getLong(0) + 1) * 30) // max inside bucket
    }
  }

  test("cohort matrix: offset 0 counts each cohort's full population") {
    val m = graft.ops.Events.qCohortMatrix(tables).collect()
    val byCohort = m.groupBy(_.getString(0))
    byCohort.foreach { case (_, rows) =>
      val zero = rows.filter(_.getLong(1) == 0L)
      assert(zero.length == 1, "every cohort must have an offset-0 row")
      // day-0 activity includes every member (first activity IS day 0)
      rows.foreach(r => assert(r.getLong(2) <= zero.head.getLong(2)))
    }
  }

  test("vocab coverage is a [0,1] ratio and the corpus head covers most tokens") {
    val rows = TextAnalysis.qVocabCoverage(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val cov = r.getDouble(3)
      assert(cov >= 0.0 && cov <= 1.0)
    }
    // the synthetic corpus has a tiny vocabulary, so the top-100 head
    // should cover nearly everything — a weak floor guards regressions
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean > 0.5, s"mean coverage $mean suspiciously low")
  }

  test("doc entropy is bounded by [0, log2(n_tokens)]") {
    val rows = TextAnalysis.qDocEntropy(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getDouble(2)
      val max = math.log(r.getLong(1).toDouble) / math.log(2.0)
      assert(h >= -1e-9 && h <= max + 1e-9, s"entropy $h outside [0, $max]")
    }
  }

  test("length histogram buckets partition the corpus and bound their members") {
    val rows = TextAnalysis.qLengthHistogram(tables).collect()
    assert(rows.map(_.getLong(2)).sum == tables.documents.count())
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      // bucket = floor(log2(n+1))  <=>  2^b <= n+1 < 2^(b+1), integer-exact
      assert(mn + 1 >= (1L << b) && mx + 1 < (1L << (b + 1)),
        s"bucket $b bounds violated by [$mn, $mx]")
    }
  }

  test("basket pairs are canonical (p1<p2), ranked, and bounded by basket math") {
    val rows = Analytics.qBasketPairs(tables).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getLong(0) < r.getLong(1)))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("event transition probabilities sum to 1 within each from-type") {
    val rows = graft.ops.Events.qEventTransitions(tables).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, grp) =>
      val total = grp.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$from rows sum to $total")
    }
  }

  test("streaming distinct users per hour matches the batch COUNT(DISTINCT)") {
    val streamed = graft.streaming.Streams
      .drainDistinctUsers(Tables(spark, sfDir))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_users"))
      .as[(String, Long)].collect().toSet
    val batch = tables.events
      .select(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("user_id"))
      .groupBy("hour")
      .agg(countDistinct("user_id").as("n_users"))
      .as[(String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("cms prefilter: candidate superset prunes the dimension, output exact") {
    val threshold = 80L
    val exact = tables.events.groupBy("user_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > threshold)
      .select("user_id").as[Long].collect().toSet
    val cands = Stats.cmsCandidatesOnly(spark, tables, threshold)
      .as[Long].collect().toSet
    assert(exact.subsetOf(cands), "CMS must never miss a true heavy hitter")
    assert(cands.size < tables.customer.count(),
      "CMS prefilter should prune the key dimension")
    val out = Stats.qHeavyHitters(tables, threshold)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == exact, "verified output must equal the exact answer")
    out.foreach { case (_, n) => assert(n > threshold) }
  }

  test("full outer join keeps left-only and right-only cells with nulls") {
    val rows = graft.ops.Relational.qFullOuter(tables).collect()
    assert(rows.nonEmpty)
    val leftOnly = rows.count(_.isNullAt(3))
    val rightOnly = rows.count(_.isNullAt(2))
    val both = rows.count(r => !r.isNullAt(2) && !r.isNullAt(3))
    assert(leftOnly > 0, "expected click-only cells")
    assert(rightOnly > 0, "expected purchase-only cells")
    assert(both > 0, "expected overlapping cells")
    // reconciliation: per-side totals survive the join
    val clicks = tables.events.filter(col("event_type") === "click").count()
    assert(rows.filterNot(_.isNullAt(2)).map(_.getLong(2)).sum == clicks)
  }

  test("ntile quartiles: near-equal sizes, ordered non-overlapping ranges") {
    val bins = Analytics.qNtileBins(tables).collect()
    assert(bins.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    val sizes = bins.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, "ntile sizes may differ by at most 1")
    assert(sizes.sum == tables.orders.select("o_custkey").distinct.count())
    bins.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2) + 1e-9,
        "tile ranges must not overlap")
    }
  }

  test("ewma closed form matches the sequential recurrence") {
    val a = 0.2
    val rows = Analytics.qEwma(tables, a).collect()
    assert(rows.nonEmpty)
    var y = rows.head.getDouble(1) // y_0 = x_0
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) y = (1 - a) * y + a * r.getDouble(1)
      assert(math.abs(r.getDouble(2) - y) < 1e-5,
        s"row $i: closed form ${r.getDouble(2)} vs recurrence $y")
    }
  }

  test("psi drift: non-negative, bounded bin count, all sources present") {
    val rows = TextAnalysis.qPsiDrift(tables).collect()
    val nSources = tables.documents.select("source").distinct.count()
    assert(rows.length == nSources)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      assert(r.getDouble(2) >= 0.0, "every PSI term (p-q)ln(p/q) is >= 0")
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
    }
  }

  test("regression trend matches a driver-side least-squares fit per segment") {
    val pts = tables.orders
      .join(tables.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("x"))
      .agg(sum("o_totalprice").as("y"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(p => (p._2.toDouble, p._3))).toMap
    Analytics.qRegressionTrend(tables).collect().foreach { r =>
      val xs = pts(r.getString(0))
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
      val sxx = xs.map(p => p._1 * p._1).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(r.getLong(1) == xs.length)
      assert(math.abs(r.getDouble(2) - slope) < math.abs(slope) * 1e-9 + 1e-6)
      val icept = (sy - slope * sx) / n
      assert(math.abs(r.getDouble(3) - icept) < math.abs(icept) * 1e-9 + 1e-3)
    }
  }

  test("benford digits: 9 rows, frequencies sum to 1, counts cover all orders") {
    val rows = Analytics.qBenford(tables).collect()
    assert(rows.map(_.getString(0)).toSeq == (1 to 9).map(_.toString))
    assert(rows.map(_.getLong(1)).sum == tables.orders.count())
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // expected follows Benford: monotone decreasing, log10(2) for digit 1
    assert(math.abs(rows.head.getDouble(3) - math.log10(2.0)) < 1e-6)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) > b.getDouble(3))
    }
  }

  test("z-score outliers: five per segment, and they are the extreme values") {
    val out = Stats.qZscoreOutliers(tables).collect()
    val bySeg = out.groupBy(_.getString(0))
    val segs = tables.customer.select("c_mktsegment").distinct.count()
    assert(bySeg.size == segs && bySeg.values.forall(_.length == 5))
    // each selected |z| must be >= the 6th largest |z| recomputed naively
    val naive = tables.orders
      .join(tables.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice"))
      .as[(String, Double)].collect().groupBy(_._1)
    bySeg.foreach { case (seg, rows) =>
      val xs = naive(seg).map(_._2)
      val n = xs.length.toDouble
      val mean = xs.sum / n
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      val top6 = xs.map(x => math.abs((x - mean) / sd)).sorted.reverse.take(6)
      rows.foreach(r =>
        assert(math.abs(r.getDouble(2)) >= top6.last - 1e-6,
          s"$seg: selected z ${r.getDouble(2)} below the naive top-5 cut"))
    }
  }

  test("interval union: covered time bounded by island count and span") {
    val winUs = 300000000L
    graft.ops.Events.qIntervalUnion(tables).collect().foreach { r =>
      val (nIslands, covered) = (r.getLong(1), r.getLong(2))
      assert(nIslands >= 1)
      assert(covered >= nIslands * winUs,
        "each island covers at least one full window")
    }
    // total covered equals the per-user union computed naively on one user
    val uid = tables.events.select("user_id").as[Long].head()
    val ts = tables.events.filter(col("user_id") === uid)
      .select(expr("ts_ns div 1000")).as[Long].collect().sorted
    var (cov, s, e) = (0L, ts.head, ts.head + winUs)
    ts.tail.foreach { t =>
      if (t > e) { cov += e - s; s = t }
      e = math.max(e, t + winUs)
    }
    cov += e - s
    val got = graft.ops.Events.qIntervalUnion(tables)
      .filter(col("user_id") === uid).select("covered_us").as[Long].head()
    assert(got == cov)
  }

  test("session paths: trigram counts total n-2 per user and sort descending") {
    val rows = graft.ops.Events.qSessionPaths(tables, k = 1000).collect()
    val perUser = tables.events.groupBy("user_id").count()
      .as[(Long, Long)].collect()
    val expected = perUser.map { case (_, n) => math.max(0L, n - 2) }.sum
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0)))
    }
  }

  test("attribution buckets partition all purchases") {
    val rows = graft.ops.Events.qAttribution(tables).collect()
    val purchases = tables.events.filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum == purchases)
    assert(rows.map(_.getString(0)).forall(Set("click", "view", "none")))
  }

  test("decile lift: shares sum to 1, cumulative share is monotone, top decile leads") {
    val rows = Analytics.qDecileLift(tables).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.last.getDouble(4) - 1.0) < 1e-12, "cum share ends at 1")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(4) < b.getDouble(4), "cumulative share must increase")
      assert(a.getDouble(3) >= b.getDouble(3) - 1e-9,
        "deciles ranked by spend: shares weakly decrease")
    }
  }

  test("weighted median: at least half the weight on each side") {
    val rows = Analytics.qWeightedMedian(tables).collect()
    rows.foreach { r =>
      val (flag, med) = (r.getString(0), r.getDouble(1))
      val wts = tables.lineitem.filter(col("l_returnflag") === flag)
        .select("l_extendedprice", "l_quantity")
        .as[(Double, Double)].collect()
      val tot = wts.map(_._2).sum
      val below = wts.filter(_._1 <= med).map(_._2).sum
      val above = wts.filter(_._1 >= med).map(_._2).sum
      assert(below * 2 >= tot - 1e-6, s"$flag: weight below median too small")
      assert(above * 2 >= tot - tot * 1e-9 - 1,
        s"$flag: weight at/above median too small")
    }
  }

  test("time-weighted average lies within the user's value envelope") {
    val rows = Analytics.qTimeWeightedAvg(tables).collect()
    assert(rows.nonEmpty)
    val uid = rows.head.getLong(0)
    val vals = tables.events.filter(col("user_id") === uid)
      .select("value").as[Double].collect()
    val r = rows.head
    assert(r.getDouble(3) >= vals.min - 1e-9 && r.getDouble(3) <= vals.max + 1e-9)
    assert(r.getLong(1) == vals.length - 1, "n_holds = events - 1")
  }

  test("cusum: one row per event type, cusum of the full series is ~0 at the end") {
    val rows = Analytics.qCusum(tables).collect()
    val types = tables.events.select("event_type").distinct.count()
    assert(rows.length == types)
    // the reported extremum must dominate a recomputed per-type series
    val hourly = tables.events
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1)
    rows.foreach { r =>
      val series = hourly(r.getString(0)).sortBy(_._2).map(_._3.toDouble)
      val mean = series.sum / series.length
      val cusums = series.scanLeft(0.0)(_ + _ - mean).tail
      assert(math.abs(math.abs(r.getDouble(3)) - cusums.map(math.abs).max) < 1e-3,
        s"${r.getString(0)}: reported extremum off")
    }
  }

  test("ngram novelty: first doc scores 1, total novel grams = corpus vocab") {
    val rows = TextAnalysis.qNgramNovelty(tables).collect()
    assert(rows.head.getDouble(3) == 1.0,
      "the lowest doc_id introduces every one of its grams")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    val vocab = tables.documents
      .select(explode(graft.ext.Dedup.shingles(col("text"), 3)).as("g"))
      .distinct().count()
    assert(rows.map(_.getLong(2)).sum == vocab,
      "every distinct gram is novel in exactly one document")
  }

  test("gini matches a driver-side computation and lies in [0,1)") {
    val r = Analytics.qGini(tables).head()
    val spends = tables.orders.groupBy("o_custkey")
      .agg(sum("o_totalprice").as("s")).select("s").as[Double]
      .collect().sorted
    val n = spends.length.toDouble
    val six = spends.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val gini = 2.0 * six / (n * spends.sum) - (n + 1.0) / n
    assert(r.getLong(0) == spends.length)
    assert(math.abs(r.getDouble(2) - gini) < 1e-6)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
  }

  test("autocorr is a valid correlation over consecutive-day pairs") {
    val r = Analytics.qAutocorr(tables).head()
    assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
    val days = tables.orders
      .groupBy(expr("datediff(o_orderdate, DATE '1992-01-01')").as("d"))
      .count().select("d").as[Long].collect().toSet
    val pairs = days.count(d => days.contains(d + 1))
    assert(r.getLong(0) == pairs, "pair count must equal consecutive days")
  }

  test("hourly profile shares sum to 1 per type across 24 hours") {
    val rows = graft.ops.Events.qHourlyProfile(tables).collect()
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      assert(rs.length <= 24)
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-9, tpe)
      rs.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 23))
    }
    assert(rows.map(_.getLong(2)).sum == tables.events.count())
  }

  test("vocab containment covers every source pair, bounded by 1") {
    val rows = TextAnalysis.qVocabContainment(tables).collect()
    val sources = tables.documents.select("source").distinct.count()
    assert(rows.length == sources * (sources - 1) / 2,
      "one row per unordered source pair")
    rows.foreach { r =>
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
    }
  }

  test("chi2 grid covers all segment x nation cells, dof matches") {
    val r = Stats.qChi2(tables).head()
    val segs = tables.customer.select("c_mktsegment").distinct.count()
    val nats = tables.customer.join(tables.nation,
      col("c_nationkey") === col("n_nationkey"))
      .select("n_name").distinct.count()
    assert(r.getLong(1) == segs * nats, "grid must densify every cell")
    assert(r.getLong(2) == (segs - 1) * (nats - 1))
    assert(r.getDouble(0) >= 0.0)
  }

  test("tpch q6 via sql frontend: one row, positive revenue and count") {
    val r = Analytics.qSqlQ6(tables).head()
    assert(r.getDouble(0) > 0 && r.getLong(1) > 0)
  }

  test("tpch q18: every order clears the quantity bar, prices descend") {
    val rows = Analytics.qSqlQ18(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(5) > 250.0))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(4) >= b.getDouble(4))
    }
    // qualifying orders recomputed directly
    val direct = tables.lineitem.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q")).filter(col("q") > 250).count()
    assert(rows.length == math.min(direct, 50))
  }

  test("debounce partitions every event into kept or dropped") {
    val rows = graft.ops.Events.qDebounce(tables).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3)))
    assert(rows.map(_.getLong(1)).sum == tables.events.count())
    // a tighter window can only drop fewer
    val tight = graft.ops.Events.qDebounce(tables, windowUs = 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(tight(r.getString(0)) <= r.getLong(2)))
  }

  test("tpch q10 via sql frontend: 20 rows, revenue strictly ordered") {
    val rows = Analytics.qSqlQ10(tables).collect()
    assert(rows.length == 20)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) >= b.getDouble(2))
    }
  }

  test("SPRT gate: crossings consistent, continue cohorts never crossed") {
    val rows = graft.ops.Events.qSprtGate(tables).collect()
    assert(rows.length == 8)
    val (upper, lower) = (2944439L, -2944439L)
    rows.foreach { r =>
      val nEvents = r.getLong(1)
      val fin = r.getLong(2)
      r.getString(5) match {
        case "continue" =>
          assert(r.isNullAt(3) && r.isNullAt(4))
          assert(fin > lower && fin < upper,
            s"cohort ${r.getLong(0)}: final $fin outside open interval but no crossing")
        case dec =>
          val (nAt, at) = (r.getLong(3), r.getLong(4))
          assert(nAt >= 1L && nAt <= nEvents)
          if (dec == "accept_h1") assert(at >= upper) else assert(at <= lower)
      }
    }
  }

  test("transition reciprocity: canonical pairs, counts tie to transitions") {
    val rows = graft.ops.Events.qTransitionReciprocity(tables).collect()
    assert(rows.nonEmpty)
    val trans = graft.ops.Events.qEventTransitions(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (cab, cba) = (r.getLong(2), r.getLong(3))
      val (tot, units) = (r.getLong(4), r.getLong(5))
      assert(tot == cab + cba)
      assert(units >= 0L && units <= 1000000L)
      assert(cab == trans.getOrElse((a, b), 0L))
      assert(cba == trans.getOrElse((b, a), 0L))
      assert(units == 2000000L * math.min(cab, cba) / tot)
    }
  }
}
