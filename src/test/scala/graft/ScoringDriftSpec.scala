package graft

import graft.ext.{Classifier, TextAnalysis}
import graft.ops.{Stats, TpchSql}

/** Round-5 second wave: forecast-quality scoring (PR-AUC, Brier/Murphy),
  * kernel MMD drift, Good–Turing / Chao1 vocabulary estimation, banded
  * propensity matching, and multiset SQL set ops. Every test recomputes
  * the claim from first principles over sf0.001 — the propensity check
  * brute-forces the all-pairs nearest match the engine's banded join must
  * reproduce; the MMD check verifies the V-statistic's nonnegativity on
  * top of equality.
  */
class ScoringDriftSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val docs: Seq[(Long, String, String, String, Long)] =
    tables.documents
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq

  private def wordsOf(text: String): Seq[String] =
    text.replaceAll("^ +| +$", "").toLowerCase.split(" +", -1).toSeq

  // the engine's qualityExpr replayed driver-side (same formula as the
  // q_quality_score oracle)
  private def quality(text: String): Double = {
    val trimmed = text.replaceAll("^ +| +$", "")
    val toks = trimmed.split(" +", -1).toSeq
    val n = if (trimmed.isEmpty) 0 else toks.size
    val nd = toks.distinct.size.toDouble
    val awl = (trimmed.length - (toks.size - 1)).toDouble / toks.size
    math.min(n / 100.0, 1.0) * 0.4 + (nd / toks.size) * 0.4 +
      math.min(awl / 10.0, 1.0) * 0.2
  }

  test("pr auc: average precision under the pinned total order") {
    val scored = docs.map(d =>
      (d._1, roundHalfUp(quality(d._2), 6), if (d._3 == "en") 1L else 0L))
      .sortBy(x => (-x._2, x._1))
    var cum = 0L
    val terms = scored.zipWithIndex.flatMap { case ((_, _, y), i) =>
      cum += y
      if (y == 1L) Some(BigDecimal(roundHalfUp(cum.toDouble / (i + 1), 9)))
      else None
    }
    val nPos = scored.map(_._3).sum
    val r = Classifier.qPrAuc(tables).collect().head
    assert(r.getLong(0) == scored.size && r.getLong(1) == nPos)
    assert(math.abs(r.getDouble(2) -
      roundHalfUp(terms.sum.toDouble / nPos, 9)) < 1e-12)
    val p10 = scored.take(10).map(_._3).sum / 10.0
    assert(r.getDouble(3) == p10)
  }

  test("brier decomposition: all four terms from first principles") {
    val s = docs.map(d =>
      (BigDecimal(quality(d._2) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        if (d._3 == "en") 1L else 0L))
    val n = s.size
    val npos = s.map(_._2).sum
    val brier = s.map { case (pu, y) =>
      BigInt(pu - y * 1000000L) * BigInt(pu - y * 1000000L)
    }.sum.toDouble / (n.toDouble * 1e12)
    val ybar = npos.toDouble / n
    val bins = s.groupBy { case (pu, _) => math.min(pu / 100000L, 9L) }
    def sq(x: Double) = roundHalfUp(x * x, 12)
    val rel = bins.values.map { g =>
      val diff = (g.map(_._1).sum - g.map(_._2).sum * 1000000L).toDouble /
        (g.size * 1000000L).toDouble
      BigDecimal(sq(diff)) * g.size
    }.sum.toDouble / n
    val res = bins.values.map { g =>
      val yb = g.map(_._2).sum.toDouble / g.size
      BigDecimal(sq(yb - ybar)) * g.size
    }.sum.toDouble / n
    val r = Classifier.qBrierDecomp(tables).collect().head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - brier) < 1e-15)
    assert(math.abs(r.getDouble(2) - rel) < 1e-15)
    assert(math.abs(r.getDouble(3) - res) < 1e-15)
    assert(math.abs(r.getDouble(4) - ybar * (1 - ybar)) < 1e-15)
    // Murphy identity holds up to within-bin forecast variance
    assert(math.abs((r.getDouble(2) - r.getDouble(3) + r.getDouble(4)) -
      r.getDouble(1)) < 0.05)
  }

  test("mmd drift: brute-force kernel sums; V-statistic is nonnegative") {
    def hist(ds: Seq[Long]): Map[Long, Long] =
      ds.map(n => math.min(n / 100, 49L)).groupBy(identity)
        .map { case (b, xs) => b -> xs.size.toLong }
    def kern(i: Long, j: Long): Long =
      BigDecimal(math.exp(-((i - j) * (i - j)) / 50.0) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def pairSum(a: Map[Long, Long], b: Map[Long, Long]): BigInt =
      (for ((i, x) <- a; (j, y) <- b) yield BigInt(x * y) * kern(i, j)).sum
    val corpus = hist(docs.map(_._5))
    val nc = docs.size.toDouble
    val cc = pairSum(corpus, corpus)
    val rows = TextAnalysis.qMmdDrift(tables).collect()
    val bySource = docs.groupBy(_._4)
    assert(rows.length == bySource.size)
    rows.foreach { r =>
      val src = hist(bySource(r.getString(0)).map(_._5))
      val ns = r.getLong(1).toDouble
      assert(ns == bySource(r.getString(0)).size.toDouble)
      val mmd2 = pairSum(src, src).toDouble / (ns * ns * 1e9) +
        cc.toDouble / (nc * nc * 1e9) -
        2.0 * pairSum(src, corpus).toDouble / (ns * nc * 1e9)
      assert(math.abs(r.getDouble(2) - mmd2) < 1e-12)
      assert(r.getDouble(2) >= -1e-9, "biased MMD^2 must be nonnegative")
    }
  }

  test("good-turing: adjusted counts from the frequency of frequencies") {
    val counts = docs.flatMap { d =>
      val w = wordsOf(d._2)
      if (w.size < 2) Seq(w.mkString(" "))
      else w.sliding(2).map(_.mkString(" ")).toSeq
    }.groupBy(identity).map(_._2.size.toLong)
    val fof = counts.groupBy(identity).map { case (r, xs) => r -> xs.size.toLong }
    val ntok = counts.sum
    val rows = TextAnalysis.qGoodTuring(tables).collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      fof.keys.filter(_ <= 10).toSeq.sorted)
    rows.foreach { r =>
      val rr = r.getLong(0)
      val nr1 = fof.getOrElse(rr + 1, 0L)
      assert(r.getLong(1) == fof(rr) && r.getLong(2) == nr1)
      assert(r.getDouble(3) == (rr + 1).toDouble * nr1.toDouble / fof(rr))
      assert(r.getDouble(4) == ((rr + 1) * nr1).toDouble / ntok.toDouble)
    }
  }

  test("chao1: richness estimate per language, always >= observed types") {
    val rows = TextAnalysis.qVocabChao1(tables).collect()
    val byLang = docs.groupBy(_._3)
    assert(rows.length == byLang.size)
    rows.foreach { r =>
      val tc = byLang(r.getString(0))
        .flatMap(d => wordsOf(d._2).filter(_.nonEmpty))
        .groupBy(identity).map(_._2.size)
      val (d, n1, n2) =
        (tc.size.toLong, tc.count(_ == 1).toLong, tc.count(_ == 2).toLong)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((d, n1, n2)))
      val chao1 = d.toDouble + (n1 * (n1 - 1)).toDouble / (2 * (n2 + 1)).toDouble
      assert(r.getDouble(4) == chao1)
      assert(r.getDouble(4) >= r.getLong(1).toDouble)
    }
  }

  test("propensity match equals the brute-force all-pairs nearest match") {
    val cust = tables.customer.select(col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rev = tables.orders.groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val treated = cust.filter(_._1 % 2 == 1)
    val control = cust.filter(_._1 % 2 == 0)
    val matches = treated.flatMap { case (tk, tb) =>
      val cands = control.map { case (ck, cb) => (math.abs(tb - cb), ck, cb) }
        .filter(_._1 <= 10000L)
      if (cands.isEmpty) None
      else {
        val (gap, ck, _) = cands.min
        Some((tk, ck, gap,
          rev.getOrElse(tk, 0L) - rev.getOrElse(ck, 0L)))
      }
    }
    val r = Stats.qPropensityMatch(tables).collect().head
    assert(r.getLong(0) == treated.length.toLong)
    assert(r.getLong(1) == matches.length.toLong)
    assert(math.abs(r.getDouble(3) - roundHalfUp(
      matches.map(_._4).sum.toDouble / matches.length, 6)) < 1e-9)
    assert(math.abs(r.getDouble(4) - roundHalfUp(
      matches.map(_._3).sum.toDouble / matches.length, 6)) < 1e-9)
  }

  test("qini curve: decile uplift from a brute-force ranking replay") {
    val cust = tables.customer.select(col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rev = tables.orders.groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = cust.length
    val ranked = cust.sortBy { case (ck, bal) => (-bal, ck) }.zipWithIndex
      .map { case ((ck, _), i) =>
        val decile = ((i + 1).toLong * 10 + n - 1) / n
        (decile, ck % 2, rev.getOrElse(ck, 0L))
      }
    val rows = ops.Stats.qQiniCurve(tables).collect()
    assert(rows.length == 10)
    var (cnt, crt, cnc, crc) = (0L, 0L, 0L, 0L)
    rows.foreach { r =>
      val d = r.getLong(0)
      val g = ranked.filter(_._1 == d)
      cnt += g.count(_._2 == 1); crt += g.filter(_._2 == 1).map(_._3).sum
      cnc += g.count(_._2 == 0); crc += g.filter(_._2 == 0).map(_._3).sum
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((cnt, cnc, crt, crc)), s"decile $d cumulative cells")
      assert(r.getDouble(5) ==
        crt.toDouble - crc.toDouble * cnt.toDouble / cnc.toDouble)
    }
    // the final decile's qini is the overall incremental revenue
    val last = rows.last
    assert(last.getLong(1) + last.getLong(2) == n.toLong)
  }

  test("sql setops: multiset intersect/except multiplicities") {
    val years = tables.orders.select(col("o_custkey"),
        year(col("o_orderdate")).as("y"))
      .filter(col("y").isin(1995, 1996)).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val m95 = years.filter(_._2 == 1995).groupBy(_._1).map(kv => kv._1 -> kv._2.size)
    val m96 = years.filter(_._2 == 1996).groupBy(_._1).map(kv => kv._1 -> kv._2.size)
    val interRows = m95.map { case (c, n) =>
      c -> math.min(n, m96.getOrElse(c, 0)) }.filter(_._2 > 0)
    val exceptRows = m95.map { case (c, n) =>
      c -> math.max(n - m96.getOrElse(c, 0), 0) }.filter(_._2 > 0)
    val got = TpchSql.run(tables, TpchSql.setops).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("intersect_all") == ((
      interRows.values.map(_.toLong).sum,
      interRows.size.toLong,
      interRows.map { case (c, n) => c * n }.sum)))
    assert(got("except_all") == ((
      exceptRows.values.map(_.toLong).sum,
      exceptRows.size.toLong,
      exceptRows.map { case (c, n) => c * n }.sum)))
  }

  test("dow-hour heatmap: cells conserve the corpus; lift normalizes") {
    val rows = graft.ops.Events.qDowHourHeatmap(tables).collect()
    val total = tables.events.count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 6)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23)
      assert(r.getDouble(3) == r.getLong(2).toDouble / total.toDouble)
      assert(r.getDouble(4) ==
        r.getLong(2).toDouble * 168.0 / total.toDouble)
    }
    // shares sum to 1 up to fp accumulation
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
  }

  test("cohens d: effect size from a driver-side per-customer replay") {
    val r = Stats.qCohensD(tables).collect().head
    val cents = tables.orders.groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    def arm(p: Long) = cents.filter(_._1 % 2 == p).map { c =>
      // the engine's decimal cast: exact at 6 dp (cents/1e5 has 5)
      BigDecimal(c._2.toDouble / 100000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val (a1, a0) = (arm(1), arm(0))
    def stats(xs: Array[Double]) = {
      val n = xs.length
      val sx = BigDecimal(xs.map(BigDecimal(_)).sum.toString).toDouble
      val sxx = xs.map(x => BigDecimal(x) * BigDecimal(x)).sum.toDouble
      (n.toLong, sx, sxx)
    }
    val ((n1, sx1, sxx1), (n0, sx0, sxx0)) = (stats(a1), stats(a0))
    assert((r.getLong(0), r.getLong(1)) == ((n1, n0)))
    val (m1, m0) = (sx1 / n1, sx0 / n0)
    def v(sxx: Double, sx: Double, n: Long) =
      (sxx - sx * sx / n.toDouble) / (n - 1).toDouble
    val pooled = math.sqrt(((n1 - 1) * v(sxx1, sx1, n1) +
      (n0 - 1) * v(sxx0, sx0, n0)) / (n1 + n0 - 2).toDouble)
    val d = (m1 - m0) / pooled
    assert(r.getDouble(2) == roundHalfUp(m1 - m0, 6))
    assert(r.getDouble(3) == roundHalfUp(d, 6))
    assert(r.getDouble(4) ==
      roundHalfUp(d * (1.0 - 3.0 / ((n1 + n0).toDouble * 4.0 - 9.0)), 6))
  }

  test("page-hinkley: decimal-pinned recurrence replayed driver-side") {
    val rows = graft.ops.Events.qPageHinkley(tables).collect()
    val daily = tables.events
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).map { case (et, rs) =>
      val xs = rs.sortBy(_._2).map(_._3.toDouble)
      var cum = BigDecimal(0); var m = BigDecimal(0)
      var minM = BigDecimal(0); var maxPh = BigDecimal(0)
      var argmax = 0L; var ph = BigDecimal(0)
      xs.zipWithIndex.foreach { case (x, i) =>
        val t = i + 1
        cum += BigDecimal(x).setScale(1)
        val term = BigDecimal(x - cum.toDouble / t.toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        m += term
        minM = if (t == 1) m else minM.min(m)
        ph = m - minM
        // first attainment of the running max == engine's MIN-t tiebreak
        if (t == 1 || ph > maxPh) { maxPh = ph; argmax = t }
      }
      et -> (xs.length.toLong, ph.toDouble, maxPh.toDouble, argmax)
    }
    rows.foreach { r =>
      val (nd, phf, phm, am) = expected(r.getString(0))
      assert(r.getLong(1) == nd)
      assert(r.getDouble(2) == phf, s"${r.getString(0)} ph_final")
      assert(r.getDouble(3) == phm, s"${r.getString(0)} ph_max")
      assert(r.getLong(4) == am, s"${r.getString(0)} argmax")
    }
  }

  test("mcnemar: contingency cells from a driver-side era replay") {
    val r = Stats.qMcnemar(tables).collect().head
    val eras = tables.orders
      .select(col("o_custkey"),
        (col("o_orderdate") < expr("TIMESTAMP '1998-07-01 00:00:00'"))
          .as("early")).collect()
      .map(x => (x.getLong(0), x.getBoolean(1)))
    val byC = eras.groupBy(_._1)
    val custs = tables.customer.select("c_custkey").collect()
      .map(_.getLong(0))
    def cell(e: Boolean, l: Boolean) = custs.count { c =>
      val os = byC.getOrElse(c, Array.empty[(Long, Boolean)])
      os.exists(_._2) == e && os.exists(!_._2) == l
    }.toLong
    val (a, b, c2, d) =
      (cell(true, true), cell(true, false), cell(false, true),
        cell(false, false))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((a, b, c2, d)))
    assert(a + b + c2 + d == custs.length.toLong)
    assert(r.getDouble(4) == roundHalfUp(
      ((b - c2) * (b - c2)).toDouble / (b + c2).toDouble, 9))
    assert(r.getDouble(5) == roundHalfUp(
      ((math.abs(b - c2) - 1) * (math.abs(b - c2) - 1)).toDouble /
        (b + c2).toDouble, 9))
  }

  test("hosmer-lemeshow: ten equal-frequency bins, nonnegative statistic") {
    val r = Classifier.qHosmerLemeshow(tables).collect().head
    assert(r.getLong(0) == 10L, "quantile binning must fill all deciles")
    assert(r.getLong(1) == r.getLong(0) - 2)
    assert(r.getDouble(2) >= 0.0 && !r.getDouble(2).isNaN)
  }

  test("growth accounting: conservation and churn ledger close exactly") {
    val rows = graft.ops.Events.qGrowthAccounting(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val active = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (day, nAct, nNew, nRet, nRes, nChurn) =>
      assert(nAct == nNew + nRet + nRes, s"day $day conservation")
      // churned(d) = active(d-1) - retained(d) whenever d-1 is observed
      active.get(day - 1).foreach { prev =>
        assert(nChurn == prev - nRet, s"day $day churn ledger")
      }
    }
    // first day: everyone is new, nobody churned into it
    val first = rows.minBy(_._1)
    assert(first._2 == first._3 && first._6 == 0L)
    // total new across all days = distinct users ever active
    val nUsers = tables.events.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == nUsers)
  }

  test("sql grouping sets: rollup cells reconcile against the base grain") {
    val got = graft.ops.TpchSql.run(tables,
      graft.ops.TpchSql.groupingSets).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val base = got.filter(_._3 == 0L)
    val total = got.filter(_._3 == 3L)
    assert(total.length == 1 && total.head._1 == "ALL" && total.head._2 == "ALL")
    assert(base.map(_._4).sum == total.head._4)
    assert(base.map(_._5).sum == total.head._5)
    // each one-dimension rollup row equals the sum of its base cells
    got.filter(_._3 == 1L).foreach { case (pri, _, _, n, c) =>
      val cells = base.filter(_._1 == pri)
      assert((cells.map(_._4).sum, cells.map(_._5).sum) == ((n, c)))
    }
    got.filter(_._3 == 2L).foreach { case (_, st, _, n, c) =>
      val cells = base.filter(_._2 == st)
      assert((cells.map(_._4).sum, cells.map(_._5).sum) == ((n, c)))
    }
  }

  test("tukey hsd: pair grid is complete and consistent with anova's MSW") {
    val pairs = Stats.qTukeyHsd(tables).collect()
    val anova = Stats.qAnova(tables).collect().head
    val (k, nTot, ssw) = (anova.getLong(0), anova.getLong(1), anova.getDouble(3))
    assert(pairs.length == k * (k - 1) / 2)
    val msw = ssw / (nTot - k).toDouble
    // replay each pair's q from the group means the engine must have used
    val g = tables.orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(o_totalprice / 1000.0 AS DECIMAL(18,6))")).as("sx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    pairs.foreach { r =>
      val (g1, g2) = (r.getString(0), r.getString(1))
      assert(g1 < g2)
      val ((n1, s1), (n2, s2)) = (g(g1), g(g2))
      assert(r.getLong(2) == n1 && r.getLong(3) == n2)
      val diff = s1 / n1.toDouble - s2 / n2.toDouble
      assert(r.getDouble(4) == roundHalfUp(diff, 6))
      assert(r.getDouble(5) == roundHalfUp(
        diff / math.sqrt(msw / 2.0 * (1.0 / n1 + 1.0 / n2)), 6))
    }
  }

  test("cronbach alpha: integer moments match a driver-side recompute") {
    val r = Stats.qCronbachAlpha(tables).collect().head
    val cells = tables.events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val n = cells.map(_._1).distinct.length.toLong
    val k = cells.map(_._2).distinct.length.toLong
    assert((r.getLong(0), r.getLong(1)) == ((n, k)))
    val num = cells.groupBy(_._2).values.map { is =>
      val sx = is.map(_._3).sum
      n * is.map(c => c._3 * c._3).sum - sx * sx
    }.sum
    val tu = cells.groupBy(_._1).values.map(_.map(_._3).sum).toSeq
    val den = n * tu.map(t => t * t).sum - tu.sum * tu.sum
    assert((r.getLong(2), r.getLong(3)) == ((num, den)))
    assert(r.getDouble(4) == roundHalfUp(
      k.toDouble / (k - 1).toDouble * (1.0 - num.toDouble / den.toDouble), 9))
    // items measure one construct only weakly here, but alpha is bounded
    assert(r.getDouble(4) <= 1.0)
  }

  test("rec map: bounded, zero iff mrr misses, single-hit case closed-form") {
    val map = graft.ops.Analytics.qRecMap(tables).collect()
    val mrr = graft.ops.Analytics.qRecMrr(tables).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(map.nonEmpty)
    map.foreach { r =>
      val (part, nRel, nRelK) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val m = mrr(part)
      assert(nRelK == m.getLong(2), "relevant-in-top-k counts agree")
      if (nRel == 0) assert(r.isNullAt(4))
      else {
        val ap = r.getDouble(4)
        assert(ap >= 0.0 && ap <= 1.0)
        assert((ap > 0) == (m.getDouble(4) > 0), "hit indicators agree")
        if (nRelK == 1) {
          // single relevant at rank f: AP = (1/f) / min(nRel, 5) exactly
          val f = m.getLong(3)
          assert(ap == (60L / f).toDouble / (60L * math.min(nRel, 5L)).toDouble)
        }
      }
    }
  }

  test("var/cvar: rank pick and tail mean from a brute-force daily replay") {
    val daily = tables.orders
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy { case (day, c) => (c, day) }
    val n = daily.length.toLong
    val rows = Stats.qVarCvar(tables).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(95L, 99L))
    rows.foreach { r =>
      val level = r.getLong(0)
      val k = ((100 - level) * n + 99) / 100
      assert(r.getLong(1) == n, "n_days")
      assert(r.getLong(2) == k, "n_tail_days")
      val tail = daily.take(k.toInt).map(_._2)
      assert(r.getLong(3) == tail.last, s"VaR@$level is the k-th worst day")
      assert(r.getDouble(4) == tail.sum.toDouble / k.toDouble,
        s"CVaR@$level is the exact tail mean")
      // tail-risk sanity: CVaR never exceeds VaR (mean of worse-or-equal days)
      assert(r.getDouble(4) <= r.getLong(3).toDouble)
    }
  }
}
