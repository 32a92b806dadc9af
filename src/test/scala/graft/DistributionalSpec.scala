package graft

import graft.ext.{Sampling, TextAnalysis}
import graft.ops.{Graph, Stats}

import org.apache.spark.sql.functions._

/** Round-5 additions: distributional statistics (Brown–Forsythe,
  * Wilcoxon signed-rank, Lorenz deciles), corpus information measures
  * (lang/source mutual information), the deterministic hash split, and
  * Adamic–Adar link scoring. Each test recomputes the operator's
  * semantics independently (driver-side brute force over the small
  * sf0.001 fixture) and compares exactly — the DuckDB oracle covers
  * engine-vs-engine, these cover the-math-is-what-we-claim.
  */
class DistributionalSpec extends SparkSuite {

  private lazy val orderRows: Array[(String, Long, Long, Int)] =
    tables.orders
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        col("o_custkey"), year(col("o_orderdate")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))

  test("lorenz: deciles partition customers; cumulative share ends at 1") {
    val out = Stats.qLorenz(tables).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 10L))
    val spend = orderRows.groupBy(_._3).map { case (_, rs) =>
      rs.map(_._2).sum
    }.toVector.sorted
    assert(out.map(_.getLong(1)).sum == spend.size)
    assert(out.map(_.getLong(2)).sum == spend.sum)
    // cumulative cents strictly increase and close at the exact total
    val cum = out.map(_.getLong(3))
    assert(cum.zip(cum.tail).forall { case (a, b) => a < b })
    assert(cum.last == spend.sum)
    assert(out.last.getDouble(4) == 1.0)
    // decile revenue is non-decreasing by construction (sorted by spend)
    val dec = out.map(_.getLong(2))
    // brute-force decile split: i-th customer (1-based, spend asc) goes
    // to ceil(i*10/n)
    val n = spend.size
    val brute = spend.zipWithIndex
      .groupBy { case (_, i0) => ((i0 + 1) * 10 + n - 1) / n }
    assert(dec.zip(out.map(_.getLong(0))).forall { case (c, d) =>
      brute(d.toInt).map(_._1).sum == c
    })
  }

  test("wilcoxon: doubled midranks match a brute-force recompute") {
    val out = Stats.qWilcoxon(tables).collect()(0)
    val byYear = orderRows
      .groupBy(r => (r._3, r._4))
      .collect { case ((c, y), rs) if y == 1995 || y == 1996 =>
        ((c, y), rs.map(_._2).sum)
      }.toMap
    val ds = byYear.keys.map(_._1).toSeq.distinct.sorted.flatMap { c =>
      for {
        a <- byYear.get((c, 1995)); b <- byYear.get((c, 1996))
        if b - a != 0L
      } yield b - a
    }
    // midrank in doubled units: 2*minrank + ties - 1
    val sortedAbs = ds.map(math.abs).sorted
    def r2(ad: Long): Long = {
      val minrank = sortedAbs.indexOf(ad) + 1L
      val ties = sortedAbs.count(_ == ad)
      2L * minrank + ties - 1L
    }
    val w2p = ds.filter(_ > 0).map(d => r2(math.abs(d))).sum
    val w2m = ds.filter(_ < 0).map(d => r2(math.abs(d))).sum
    assert(out.getLong(0) == ds.size)
    assert(out.getLong(1) == w2p && out.getLong(2) == w2m)
    // rank-sum identity: W2+ + W2- = 2 * n(n+1)/2 (holds at n = 0 too —
    // the sf0.001 fixture has no customer active in both years)
    assert(w2p + w2m == ds.size.toLong * (ds.size + 1))
  }

  test("levene: half-cent median centers match a brute-force recompute") {
    val out = Stats.qLevene(tables).collect()(0)
    val byGrp = orderRows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted.toVector
    }
    assert(out.getLong(0) == byGrp.size)
    assert(out.getLong(1) == orderRows.length)
    // recompute the F statistic with the same pinned arithmetic
    val moments = byGrp.values.map { v =>
      val n = v.size
      val med2 = v((n + 1) / 2 - 1) + v(n / 2)
      val zs = v.map(c => math.abs(2 * c - med2).toDouble / 200000.0)
      def d6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val sx = zs.map(d6).sum
      val sxx = zs.map(z => d6(z * z)).sum
      val term = BigDecimal(sx.toDouble * sx.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      (n, sx, sxx, term)
    }
    val k = moments.size
    val nTot = moments.map(_._1).sum
    val sAll = moments.map(_._2).sum.toDouble
    val sxxAll = moments.map(_._3).sum.toDouble
    val termAll = moments.map(_._4).sum.toDouble
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ssb = r4(termAll - sAll * sAll / nTot)
    val ssw = r4(sxxAll - termAll)
    assert(out.getDouble(2) == ssb && out.getDouble(3) == ssw)
    val f = BigDecimal((ssb / (k - 1)) / (ssw / (nTot - k)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getDouble(4) == f)
  }

  test("hash split: assignment is a pure function of bytes; shares exact") {
    val docs = tables.documents
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h2(text: String, id: Long): String =
      md.digest((text + id).getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
    val brute = docs.groupBy { case (id, text, src) =>
      val h = h2(text, id)
      val split = if (h < "cd") "train" else if (h < "e7") "val" else "test"
      (split, src)
    }.map { case (k, v) => k -> v.size }
    val out = Sampling.qHashSplit(tables).collect()
    assert(out.map(_.getLong(2)).sum == docs.length)
    out.foreach { r =>
      assert(brute((r.getString(0), r.getString(1))) == r.getLong(2))
    }
    // determinism: a second run is byte-identical
    val again = Sampling.qHashSplit(tables).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("mutual info: MI >= 0, bounded by both marginal entropies") {
    val out = TextAnalysis.qMutualInfo(tables).collect()(0)
    val nDocs = tables.documents.count()
    assert(out.getLong(0) == nDocs)
    val (hl, hs, mi) = (out.getDouble(2), out.getDouble(3), out.getDouble(4))
    // rounding at 1e-9 can push a zero MI infinitesimally negative
    assert(mi >= -1e-6)
    assert(mi <= hl + 1e-6 && mi <= hs + 1e-6)
    // brute-force MI from counts (unpinned, so compare loosely)
    val cells = tables.documents.groupBy("lang", "source").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val cl = cells.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val cs = cells.groupBy(_._1._2).map { case (k, v) => k -> v.map(_._2).sum }
    val n = cells.map(_._2).sum.toDouble
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val miB = cells.map { case ((l, s), c) =>
      c / n * lg2(c * n / (cl(l) * cs(s).toDouble))
    }.sum
    assert(math.abs(mi - miB) < 1e-6)
  }

  test("rec eval: hit rates match a brute-force train/test replay") {
    val out = graft.ops.Analytics.qRecEval(tables).collect()
    val li = tables.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val days = tables.orders
      .select(col("o_orderkey"),
        expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cut = (days.values.min + days.values.max) / 2
    val train = li.filter(x => days(x._1) < cut)
    val test = li.filter(x => days(x._1) >= cut)
    val testByBasket = test.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet
    }
    // brute recommendations: co-occurrence counts on train baskets
    val co = train.groupBy(_._1).values.toSeq.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    out.foreach { r =>
      val u = r.getLong(0)
      assert(u % 199 == 0)
      val recs = co.collect { case ((a, b), c) if a == u => (b, c) }
        .toSeq.sortBy { case (v, c) => (-c, v) }.take(5).map(_._1).toSet
      assert(r.getLong(1) == recs.size)
      val uBaskets = testByBasket.filter(_._2.contains(u)).keys.toSeq
      val hits = uBaskets.count(k => testByBasket(k).intersect(recs).nonEmpty)
      assert(r.getLong(2) == uBaskets.size && r.getLong(3) == hits)
      if (uBaskets.nonEmpty)
        assert(math.abs(r.getDouble(4) -
          hits.toDouble / uBaskets.size) < 1e-8)
      else assert(r.isNullAt(4))
    }
  }

  test("surprisal curve: monotone in the cutoff; totals conserve") {
    val out = graft.ext.TextAnalysis.qSurprisalCurve(tables).collect()
    assert(out.length == 6)
    val nDocs = tables.documents.count()
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == nDocs)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // raising the cutoff can only keep more docs and more tokens
    val kept = out.map(_.getLong(1))
    val toks = out.map(_.getLong(3))
    assert(kept.zip(kept.tail).forall { case (a, b) => a <= b })
    assert(toks.zip(toks.tail).forall { case (a, b) => a <= b })
  }

  test("mlm mask: positions match a MessageDigest recompute; rate sane") {
    val out = TextAnalysis.qMlmMask(tables).collect()
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    val md = java.security.MessageDigest.getInstance("MD5")
    var masked = 0L; var total = 0L
    out.foreach { r =>
      val id = r.getLong(0)
      val n = docs(id).trim.split(" +").length.toLong
      assert(r.getLong(1) == n)
      val pos = (0L until n).filter { i =>
        md.digest(s"$id:$i".getBytes("UTF-8")).take(1)
          .map(b => f"$b%02x").mkString < "26"
      }
      assert(r.getLong(2) == pos.length)
      assert(r.getString(4) == pos.take(10).mkString(","))
      masked += pos.length; total += n
    }
    // corpus-wide realized rate tracks the exact 38/256 design rate
    val rate = masked.toDouble / total
    assert(rate > 0.10 && rate < 0.20, s"rate $rate")
  }

  test("multimodal resize: aspect preserved, bounded by maxSide") {
    val out = graft.ext.Multimodal
      .qMultimodalResize(tables).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(ow <= 256 && oh <= 256 && ow >= 1 && oh >= 1)
      assert(ow <= w && oh <= h)
      // aspect ratio preserved within the floor's quantization
      val s = math.min(math.min(256.0 / w, 256.0 / h), 1.0)
      assert(ow == math.floor(w * s).toInt && oh == math.floor(h * s).toInt)
    }
  }

  test("embed drift: histogram exact; psi >= 0 within rounding") {
    val out = graft.ext.Similarity.qEmbedDrift(tables).collect()
    val labels = tables.embeddings.select("label").distinct().count()
    assert(out.length == labels)
    // brute-force the integer norm2 histogram for one label
    val vecs = tables.embeddings.select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
      .filter(_._2 != null).filter(_._2.nonEmpty)
    val n2 = vecs.map { case (l, v) =>
      (l, v.map(x => math.floor(x.toDouble * 1000.0 + 0.5)).map(m => m * m)
        .sum.toLong / 100000L)
    }
    out.foreach { r =>
      val bins = n2.filter(_._1 == r.getLong(0)).map(_._2).distinct.length
      assert(r.getLong(1) == bins)
      // every (p-q)ln(p/q) term is non-negative ((p-q) and ln(p/q)
      // share sign), so PSI >= 0 up to the 1e-9 rounding
      assert(r.getDouble(2) >= -1e-8)
    }
  }

  test("hard negatives: all cross-label, ranked by descending cosine") {
    val out = graft.ext.Similarity.qHardNegatives(tables).collect()
    val labels = tables.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(qid % 200 == 0)
      val sorted = rows.sortBy(_.getLong(4))
      // negatives never share the query's label; sims non-increasing
      sorted.foreach { r =>
        assert(labels(r.getLong(2)) != r.getLong(1))
        assert(labels(qid).toLong == r.getLong(1))
      }
      val sims = sorted.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sorted.map(_.getLong(4)).toSeq == (1L to rows.length))
    }
  }

  test("ltv curve: cohort revenue conserves; cumulative closes the total") {
    val out = graft.ops.Analytics.qLtvCurve(tables).collect()
    val totalCents = tables.orders
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .collect().map(_.getLong(0)).sum
    assert(out.map(_.getLong(3)).sum == totalCents)
    // per cohort: cumulative is a running sum of the age series and the
    // user count is constant
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(2)).distinct.length == 1)
      var run = 0L
      sorted.foreach { r =>
        run += r.getLong(3)
        assert(r.getLong(4) == run)
      }
    }
  }

  test("rec ndcg: bounded by 1, zero iff no relevant rec, idcg from pool") {
    val out = graft.ops.Analytics.qRecNdcg(tables).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 199 == 0)
      val nRel = r.getLong(2)
      if (nRel == 0) { assert(r.isNullAt(4) && r.isNullAt(5)) }
      else {
        val (dcg, idcg, ndcg) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(idcg > 0 && dcg >= 0 && dcg <= idcg + 1e-9)
        assert(ndcg >= 0.0 && ndcg <= 1.0)
        assert(math.abs(ndcg - BigDecimal(dcg / idcg)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      }
    }
  }

  test("rec mrr: reciprocal of first relevant rank; consistent with ndcg") {
    val mrr = graft.ops.Analytics.qRecMrr(tables).collect()
    assert(mrr.nonEmpty)
    val rrOf = Map(1L -> "1.000000000", 2L -> "0.500000000",
      3L -> "0.333333333", 4L -> "0.250000000", 5L -> "0.200000000")
    mrr.foreach { r =>
      assert(r.getLong(0) % 199 == 0)
      val nRelK = r.getLong(2)
      if (nRelK == 0) {
        assert(r.isNullAt(3) && r.getDouble(4) == 0.0)
      } else {
        val first = r.getLong(3)
        assert(first >= 1 && first <= 5 && nRelK <= r.getLong(1))
        assert(r.getDouble(4) == BigDecimal(rrOf(first)).toDouble)
      }
    }
    // a probe has rr > 0 exactly when ndcg says it has dcg > 0 (both are
    // "some relevant rec in top-k" indicators over the same frames)
    val dcgPos = graft.ops.Analytics.qRecNdcg(tables).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3) > 0)).toMap
    mrr.foreach(r => assert((r.getDouble(4) > 0) == dcgPos(r.getLong(0))))
  }

  test("ab power: MDE identities hold and match the pinned recompute") {
    val r = graft.ops.Events.qAbPower(tables).collect()(0)
    val (nTot, nMin) = (r.getLong(0), r.getLong(1))
    val (mean, varK) = (r.getDouble(2), r.getDouble(3))
    val (mdeAbs, mdeRel) = (r.getDouble(4), r.getDouble(5))
    assert(nMin * 2 <= nTot + 1 && nMin >= 1)
    assert(varK > 0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mdeAbs == r6(2.801585 * math.sqrt(varK * 2.0 / nMin)))
    assert(mdeRel == r6(2.801585 * math.sqrt(varK * 2.0 / nMin) / mean))
    // the split is customer-parity: arm sizes from a direct recompute
    val custs = tables.orders.select("o_custkey").distinct().collect()
      .map(_.getLong(0))
    assert(nTot == custs.length)
    assert(nMin == math.min(custs.count(_ % 2 == 0), custs.count(_ % 2 == 1)))
  }

  test("moments: skewness/kurtosis match a brute-force recompute") {
    val out = Stats.qMoments(tables).collect()
    val byGrp = tables.orders
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1) / 10000.0))
      .groupBy(_._1)
    assert(out.length == byGrp.size)
    out.foreach { r =>
      val xs = byGrp(r.getString(0)).map(_._2)
      val n = xs.length
      assert(r.getLong(1) == n)
      def d6(x: Double, s: Int) = BigDecimal(x)
        .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      val s1 = xs.map(x => BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s2 = xs.map(x => BigDecimal(x * x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s3 = xs.map(x => BigDecimal(x * x * x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s4 = xs.map(x => BigDecimal(x * x * x * x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val mean = s1 / n
      val m2 = s2 / n - mean * mean
      val m3 = s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean
      val m4 = s4 / n - 4.0 * mean * (s3 / n) +
        6.0 * mean * mean * (s2 / n) - 3.0 * mean * mean * mean * mean
      assert(r.getDouble(2) == d6(mean, 9))
      assert(r.getDouble(3) == d6(m3 / (m2 * math.sqrt(m2)), 6))
      assert(r.getDouble(4) == d6(m4 / (m2 * m2) - 3.0, 6))
      // sanity: heavy right tail of order values => positive skew
      assert(r.getDouble(3) > -5 && r.getDouble(3) < 5)
    }
  }

  test("sql unpivot equals the DataFrame unpivot fold") {
    val sql = SparkEntry.queries("q_sql_unpivot")(spark, sfDir).collect()
    val df = graft.ops.Analytics.qUnpivotMeasures(tables).collect()
    assert(sql.map(_.toString).toSeq == df.map(_.toString).toSeq)
    assert(sql.nonEmpty)
  }

  test("sql pivot equals the DataFrame pivot reshape") {
    val sql = SparkEntry.queries("q_sql_pivot")(spark, sfDir).collect()
    val df = tables.documents
      .groupBy("source").pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .sum("n_chars").orderBy("source").collect()
    assert(sql.map(_.toString).toSeq == df.map(_.toString).toSeq)
    assert(sql.nonEmpty)
  }

  test("dim stats: milli-unit sums match a driver-side recompute") {
    val out = graft.ext.Similarity.qDimStats(tables).collect()
    val vecs = tables.embeddings
      .select("embedding").collect()
      .map(_.getSeq[Float](0))
      .filter(v => v != null && v.nonEmpty)
    assert(out.length == vecs.head.size)
    out.foreach { r =>
      val d = r.getLong(0).toInt
      val ms = vecs.map(v => math.floor(v(d).toDouble * 1000.0 + 0.5).toLong)
      assert(r.getLong(1) == vecs.length)
      assert(r.getLong(2) == ms.sum)
      assert(r.getLong(3) == ms.map(m => m * m).sum)
      // variance non-negative, mean consistent with the integer sum
      assert(r.getDouble(5) >= 0.0)
      assert(math.abs(r.getDouble(4) - ms.sum.toDouble / ms.length) < 1e-6)
    }
  }

  test("variant agg: typed variant extraction equals the JSON-string path") {
    val out = graft.ops.Events.qVariantAgg(tables).collect()
    val brute = tables.events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => (r.getString(0), Option(r.get(1)).map(_ =>
        r.getLong(1))))
      .groupBy(_._1)
    out.foreach { r =>
      val ks = brute(r.getString(0)).flatMap(_._2)
      assert(r.getLong(1) == brute(r.getString(0)).size)
      assert(r.getLong(2) == ks.length)
      assert(r.getLong(3) == ks.distinct.length)
      assert(r.getLong(4) == ks.sum)
      assert(r.getLong(5) == ks.min && r.getLong(6) == ks.max)
    }
    // the plan must read through the parsed variant, not re-parse strings
    val plan = graft.ops.Events.qVariantAgg(tables)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("variant_get") || plan.contains("VariantGet"),
      s"typed extraction missing from plan:\n$plan")
  }

  test("adamic adar: candidates non-adjacent, ranked by pinned-ln weight") {
    val out = Graph.qAdamicAdar(tables).collect()
    val li = tables.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      g =>
        val ps = g.map(_._2).distinct
        for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    out.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(u % 199 == 0 && !edges.contains((u, v)))
      // recompute the exact integer score
      val commons = edges.collect {
        case (a, w) if a == u && edges.contains((w, v)) && v != u => w
      }
      val units = commons.toSeq.map { w =>
        1000000000000L / math.round(math.log(deg(w).toDouble) * 1e6)
      }.sum
      assert(r.getLong(2) == commons.size && r.getLong(3) == units)
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 5)
    }
  }
}
