package graft

import graft.ext.TextAnalysis
import graft.ops.{Analytics, Graph, Stats}

import org.apache.spark.sql.functions._

/** Round-4 wave: PageRank, skyline, two-sample inference, jackknife,
  * rolling distinct, repeated-span dedup. Tests recompute each operator's
  * claim independently (brute force over sf0.001); the DuckDB oracle
  * covers engine-vs-engine equality separately.
  */
class GraphInferenceSpec extends SparkSuite {
  import spark.implicits._

  test("pagerank: mass conservation, positivity, and degree monotonicity") {
    val out = Graph.qPagerank(tables).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getLong(1)).sum
    // floor divisions only LOSE mass: total <= 1e9, and with ~2 integer
    // floors per node per round the loss is bounded well under 1%
    assert(total <= 1000000000L)
    assert(total > 990000000L, s"lost too much mass: $total")
    assert(out.forall(_.getLong(1) > 0))
  }

  test("pagerank: ranks match a driver-side recompute of the same rounds") {
    val li = tables.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .distinct().as[(Long, Long)].collect()
    val edges: Set[(Long, Long)] = li.toSeq.groupBy(_._1).values.flatMap {
      lines =>
        val ps: Seq[Long] = lines.map(_._2).distinct
        for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = deg.size.toLong
    var r: Map[Long, Long] = deg.map { case (k, _) => k -> 1000000000L / n }
    for (_ <- 1 to 3) {
      val contrib = edges.toSeq
        .map { case (s, d) => d -> (r(s) * 85) / (100 * deg(s)) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = contrib.map { case (k, v) => k -> (150000000L / n + v) }
    }
    val got = Graph.qPagerank(tables).as[(Long, Long)].collect().toMap
    assert(got == r)
  }

  test("bfs hops match a driver-side breadth-first traversal") {
    val li = tables.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .distinct().as[(Long, Long)].collect()
    val adj: Map[Long, Set[Long]] = li.toSeq.groupBy(_._1).values.flatMap {
      lines =>
        val ps: Seq[Long] = lines.map(_._2).distinct
        for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet[(Long, Long)].groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = adj.keys.min
    var expected = Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1 to 3) {
      frontier = frontier.flatMap(adj(_)) -- expected.keySet
      expected ++= frontier.map(_ -> h.toLong)
    }
    val got = ops.Graph.qBfsHops(tables).as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got.values.exists(_ > 0), "graph must extend past the seed")
  }

  test("label propagation matches a driver-side recompute of the same rounds") {
    val li = tables.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .distinct().as[(Long, Long)].collect()
    val edges: Set[(Long, Long)] = li.toSeq.groupBy(_._1).values.flatMap {
      lines =>
        val ps: Seq[Long] = lines.map(_._2).distinct
        for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    var lbl: Map[Long, Long] = edges.map(_._1).map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = edges.toSeq.map { case (s, d) => d -> lbl(s) }
        .groupBy(_._1).map { case (d, ls) =>
          val counts = ls.map(_._2).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          // most frequent neighbor label, smallest label on ties
          d -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
    }
    val got = Graph.qLabelProp(tables).as[(Long, Long)].collect().toMap
    assert(got == lbl)
    assert(got.values.toSet.size >= 1)
  }

  test("modularity: per-community accounting sums to the global edge count") {
    val rows = Graph.qModularity(tables).collect()
    assert(rows.nonEmpty)
    val twoM = rows.head.getLong(5)
    assert(rows.forall(_.getLong(5) == twoM), "two_m is a global constant")
    // directed degree totals partition the edge set across communities
    assert(rows.map(_.getLong(3)).sum == twoM)
    // internal edges never exceed the community's degree mass, and the
    // integer numerator is exactly internal*2m - deg_sum^2
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(4) == r.getLong(2) * twoM - r.getLong(3) * r.getLong(3))
    }
    // modularity Q = sum(q_num) / (2m)^2 lies in [-1, 1]
    val q = rows.map(_.getLong(4)).sum.toDouble / (twoM.toDouble * twoM)
    assert(q >= -1.0 && q <= 1.0)
  }

  test("pareto front: no frontier point dominates another; dominated points are absent") {
    val all = tables.lineitem.groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("q"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")).as("p"))
      .as[(Long, Double, Double)].collect()
    def dominated(x: (Long, Double, Double)) = all.exists(y =>
      y._3 <= x._3 && y._2 >= x._2 && (y._3 < x._3 || y._2 > x._2))
    val expected = all.filterNot(dominated).map(_._1).toSet
    val got = Analytics.qParetoFront(tables).collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("welch t-test: sign follows the means and df sits in the Welch range") {
    val r = Stats.qWelchTtest(tables).collect().head
    val (nO, nF) = (r.getLong(0), r.getLong(1))
    val (mO, mF) = (r.getDouble(2), r.getDouble(3))
    val t = r.getDouble(4)
    val df = r.getDouble(5)
    assert((t > 0) == (mO > mF))
    assert(df >= math.min(nO, nF) - 1.0 && df <= nO + nF - 2.0)
  }

  test("jackknife: SE positive and CI brackets the point estimate") {
    val r = Stats.qJackknifeCi(tables).collect().head
    val (m, se, lo, hi) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(se > 0)
    assert(lo < m && m < hi)
    // jackknife SE of a mean over B=10 buckets is close to the classic
    // SE = sd/sqrt(n); sanity-bound it within a factor of 3
    val stats = tables.orders.select(col("o_totalprice"))
      .as[Double].collect()
    val n = stats.length
    val mean = stats.sum / n
    val sd = math.sqrt(stats.map(v => (v - mean) * (v - mean)).sum / (n - 1))
    val classic = sd / math.sqrt(n.toDouble)
    assert(se > classic / 3 && se < classic * 3, s"se=$se classic=$classic")
  }

  test("rolling correlation: bounds hold and a spot window matches brute force") {
    val rows = Stats.qRollingCorr(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val c = r.getDouble(2)
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr out of range: $c")
      }
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 30)
    }
    // brute-force the LAST day's trailing window
    val daily = tables.orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .as("x"), count(lit(1)).cast("double").as("y"))
      .as[(java.sql.Date, Double, Double)].collect()
      .sortBy(_._1.toLocalDate.toEpochDay)
    val last = daily.last._1.toLocalDate.toEpochDay
    val wnd = daily.filter(t => last - t._1.toLocalDate.toEpochDay < 30)
    val n = wnd.length.toDouble
    val (sx, sy) = (wnd.map(_._2).sum, wnd.map(_._3).sum)
    val sxx = wnd.map(t => t._2 * t._2).sum
    val syy = wnd.map(t => t._3 * t._3).sum
    val sxy = wnd.map(t => t._2 * t._3).sum
    val expect = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = rows.last.getDouble(2)
    assert(math.abs(got - expect) < 1e-6, s"$got vs $expect")
  }

  test("rolling 7-day distinct matches a brute-force per-day recompute") {
    val o = tables.orders
      .select(to_date(col("o_orderdate")).as("d"), col("o_custkey"))
      .as[(java.sql.Date, Long)].collect()
    val byDay = o.groupBy(_._1.toLocalDate)
    val expected = byDay.keys.map { d =>
      d.toString -> o.iterator.filter { case (od, _) =>
        val x = od.toLocalDate
        !x.isAfter(d) && !x.isBefore(d.minusDays(6))
      }.map(_._2).toSet.size.toLong
    }.toMap
    val got = Analytics.qWindowDistinct(tables)
      .as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("kaplan-meier: survival is a non-increasing curve matching brute force") {
    val rows = Stats.qKaplanMeier(tables).collect()
    assert(rows.nonEmpty)
    val survs = rows.map(_.getDouble(3))
    assert(survs.zip(survs.tail).forall { case (a, b) => b <= a },
      "survival must be non-increasing")
    assert(survs.head < 1.0 && survs.head > 0.0)
    // brute-force: recompute risk sets and the product over event times
    val o = tables.orders
      .select(to_date(col("o_orderdate")), col("o_custkey"))
      .as[(java.sql.Date, Long)].collect()
    val horizon = o.map(_._1.toLocalDate).max
    val durs = o.groupBy(_._2).values.map { os =>
      val ds = os.map(_._1.toLocalDate).distinct.sortBy(_.toEpochDay)
      val t0 = ds.head
      ds.drop(1).headOption match {
        case Some(t1) => (t1.toEpochDay - t0.toEpochDay, true)
        case None => (horizon.toEpochDay - t0.toEpochDay, false)
      }
    }.toSeq
    var atRisk = durs.size.toLong
    var surv = BigDecimal(1)
    val expected = durs.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (dur, ss) =>
        val d = ss.count(_._2).toLong
        val row = if (d > 0) {
          val s =
            if (d == atRisk) 0.0
            else {
              surv *= BigDecimal(1) - BigDecimal(d) / BigDecimal(atRisk)
              surv.toDouble
            }
          Some((dur, atRisk, d, s))
        } else None
        atRisk -= ss.size
        row
    }
    rows.zip(expected).foreach { case (r, (dur, risk, d, s)) =>
      assert(r.getLong(0) == dur && r.getLong(1) == risk && r.getLong(2) == d)
      // engine surv goes through round(ln)/exp at 1e-12/1e-6; brute force
      // is exact rational — agree to 1e-5
      assert(math.abs(r.getDouble(3) - s) < 1e-5,
        s"dur=$dur got=${r.getDouble(3)} want=$s")
    }
    assert(rows.length == expected.length)
  }

  test("incremental dedup finds exactly the planted batch-vs-corpus duplicates") {
    val got = ext.Dedup.qDedupIncremental(tables)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    // brute force over the same gram sets
    val grams = tables.documents
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        val w = text.trim.toLowerCase.split(" +").toSeq
        id -> w.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }.toMap
    val expected = (for {
      (nId, nG) <- grams.iterator if nId % 10 == 0
      (oId, oG) <- grams.iterator if oId % 10 != 0
      inter = (nG & oG).size
      if inter > 0 &&
        inter.toDouble / (nG.size + oG.size - inter) >= 0.5
    } yield (nId, oId)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must contain planted duplicates")
  }

  test("multi regression: Cramer solution matches gaussian elimination on the normal equations") {
    val r = Stats.qMultiRegression(tables).collect().head
    val data = tables.lineitem
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("x1"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("x2"))
      .join(tables.orders.select(col("o_orderkey"),
        col("o_totalprice").as("y")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("x1").cast("double"), col("x2"), col("y"))
      .as[(Double, Double, Double)].collect()
    val n = data.length.toDouble
    def s(f: ((Double, Double, Double)) => Double) = data.map(f).sum
    // normal equations A beta = rhs, solved by gaussian elimination
    val a = Array(
      Array(n, s(_._1), s(_._2)),
      Array(s(_._1), s(t => t._1 * t._1), s(t => t._1 * t._2)),
      Array(s(_._2), s(t => t._1 * t._2), s(t => t._2 * t._2)))
    val rhs = Array(s(_._3), s(t => t._1 * t._3), s(t => t._2 * t._3))
    for (i <- 0 until 3) {
      val piv = (i until 3).maxBy(k => math.abs(a(k)(i)))
      val (ta, tb) = (a(i), rhs(i)); a(i) = a(piv); rhs(i) = rhs(piv)
      a(piv) = ta; rhs(piv) = tb
      for (k <- i + 1 until 3) {
        val f = a(k)(i) / a(i)(i)
        for (j <- i until 3) a(k)(j) -= f * a(i)(j)
        rhs(k) -= f * rhs(i)
      }
    }
    val beta = new Array[Double](3)
    for (i <- 2 to 0 by -1) {
      beta(i) = (rhs(i) - (i + 1 until 3).map(j => a(i)(j) * beta(j)).sum) /
        a(i)(i)
    }
    assert(math.abs(r.getDouble(1) - beta(0)) < 1e-4, s"b0 ${r.getDouble(1)} vs ${beta(0)}")
    assert(math.abs(r.getDouble(2) - beta(1)) < 1e-4, s"b1 ${r.getDouble(2)} vs ${beta(1)}")
    assert(math.abs(r.getDouble(3) - beta(2)) < 1e-4, s"b2 ${r.getDouble(3)} vs ${beta(2)}")
    val r2 = r.getDouble(4)
    assert(r2 > 0.0 && r2 <= 1.0)
  }

  test("item cf: per-item ranking matches a brute-force cosine recompute") {
    val got = Analytics.qItemCf(tables).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    val baskets = tables.lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect().distinct
    val freq = baskets.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairCounts = baskets.groupBy(_._1).values.flatMap { os =>
      val ps = os.map(_._2).distinct.toSeq
      for (x <- ps; y <- ps if x != y) yield (x, y)
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // spot-check every 50th item fully (rank order and values)
    got.keys.filter(_ % 50 == 0).foreach { p1 =>
      val expected = pairCounts.collect { case ((`p1`, p2), cij) =>
        (p2, cij / math.sqrt((freq(p1) * freq(p2)).toDouble))
      }.toSeq.sortBy { case (p2, s) => (-s, p2) }.take(5)
      assert(got(p1) == expected, s"item $p1: ${got(p1)} vs $expected")
    }
  }

  test("entity resolution equals union-find over the jaro pairs with longest-name survivors") {
    val pairs = ext.Dedup.qJaroNames(tables)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must produce fuzzy-duplicate pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val names = tables.part.select(col("p_partkey"), col("p_name"))
      .as[(Long, String)].collect().toMap
    val clusters = parent.keys.toSeq.groupBy(find).values.map(_.sorted).toSeq
    val expected = clusters.map { ms =>
      val canon = ms.maxBy(id => (names(id).length, -id))
      (ms.min, ms.size.toLong, canon, names(canon), ms.mkString(","))
    }.sortBy(_._1)
    val got = ext.Dedup.qEntityResolution(tables)
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(got == expected)
  }

  test("dup spans: span accounting invariants hold on every doc") {
    val rows = TextAnalysis.qDupSpans(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (nSpans, dup, tot) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dup <= tot)
      // spans are merged maximal runs of 8-gram coverage: each is >= 8
      // tokens, and disjoint spans cannot overlap
      assert(dup >= nSpans * 8)
      assert(r.getDouble(4) == dup.toDouble / tot)
    }
    // the synthetic corpus is tiny-vocabulary text: 8-gram collisions
    // across docs must exist, or the operator is vacuous on its fixture
    assert(rows.exists(_.getLong(1) > 0))
  }

  test("kcore: distributed peel matches brute-force peel on a crafted graph") {
    // 4-clique {1,2,3,4} + triangle {5,6,7} bridged 4-5, pendant 8 off 1
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L), (4L, 5L), (1L, 8L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    def brute(k: Int): Set[Long] = {
      var es = und.toSet ++ und.map(_.swap).toSet
      var changed = true
      while (changed) {
        val deg = es.groupBy(_._1).map { case (n, e) => n -> e.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        changed = next.size != es.size
        es = next
      }
      es.map(_._1)
    }
    for (k <- Seq(2, 3, 4)) {
      val got = Graph.kcoreSurvivors(sym, k)
        .select("src").distinct().as[Long].collect().toSet
      assert(got == brute(k), s"k=$k")
    }
    // shape sanity on the crafted graph: pendant falls out of the 2-core,
    // the bridge dies in the 3-core, and no 4-core exists
    assert(brute(2) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(brute(3) == Set(1L, 2L, 3L, 4L))
    assert(brute(4) == Set.empty[Long])
  }

  test("kcore ladder on real data: nested cores, consistent censuses") {
    val rows = Graph.qKcore(tables).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 8L))
    // nesting: node and edge counts must be non-increasing in k
    val ns = rows.map(_.getLong(1)).toSeq
    val es = rows.map(_.getLong(2)).toSeq
    assert(ns == ns.sorted.reverse, s"nodes not nested: $ns")
    assert(es == es.sorted.reverse, s"edges not nested: $es")
    // every surviving node in a k-core has degree >= k, so e >= n*k/2
    rows.foreach { r =>
      val (k, n, e) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(2 * e >= n * k, s"k=$k census violates the degree bound")
    }
  }

  test("kcore: peel converges within the oracle's 4-round unroll bound") {
    // the SQL oracle unrolls exactly 4 filter rounds per k; the engine
    // fails loudly past maxIter. Running the ladder with maxIter=4 pins
    // the graded corpus inside the oracle's bound — if the graph ever
    // deepens past it, this throws here instead of the oracle silently
    // under-peeling in the DuckDB harness.
    val bounded = Graph.qKcore(tables, maxIter = 4).collect().toSeq
    val default = Graph.qKcore(tables).collect().toSeq
    assert(bounded == default)
  }

  test("hierarchy flatten: depths match a driver-side walk of the forest") {
    val ids = tables.customer.select(col("c_custkey")).as[Long].collect().toSet
    def depth(id: Long): Long = {
      val p = id / 10
      if (p == id || !ids.contains(p)) 0L else 1L + depth(p)
    }
    val expect = ids.groupBy(depth).map { case (d, ns) => d -> ns.size.toLong }
    val got = Graph.qHierarchyFlatten(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  /** A parent forest of exactly `depth` levels: a spine of `depth` hops
    * from root 100 with a leaf off every spine node, plus a root 1000
    * with two children (or, at depth 0, three lone roots).
    */
  private def forest(depth: Int): Seq[(Long, Option[Long])] =
    if (depth == 0) Seq((100L, None), (101L, None), (1000L, None))
    else
      (0 to depth).map(i => (100L + i, if (i == 0) None else Some(99L + i))) ++
        (0 until depth).map(i => (200L + i, Some(100L + i))) ++
        Seq((1000L, None), (1001L, Some(1000L)), (1002L, Some(1000L)))

  test("forest closure: root and depth match a driver-side walk at depths 0, 1, 5 and 9") {
    for (d <- Seq(0, 1, 5, 9)) {
      val f = forest(d)
      val parent = f.toMap
      def walk(id: Long): (Long, Long) = parent(id) match {
        case None => (id, 0L)
        case Some(p) => val (root, depth) = walk(p); (root, depth + 1)
      }
      val expect = f.map { case (id, _) => id -> walk(id) }.toMap
      assert(expect.values.map(_._2).max == d)
      val got = Graph.resolveForest(f.toDF("id", "parent"))
        .as[(Long, Long, Long)].collect()
        .map { case (id, anc, depth) => id -> (anc, depth) }.toMap
      assert(got == expect, s"depth $d")
    }
  }

  test("forest closure: depth 9 resolves in floor(log2 9) + 1 rounds and fails loudly with fewer") {
    val f = forest(9).toDF("id", "parent")
    assert(Graph.resolveForest(f, maxIter = 4).count() == forest(9).size)
    val e = intercept[IllegalStateException](Graph.resolveForest(f, maxIter = 3))
    assert(e.getMessage.contains("unresolved after 3 rounds"), e.getMessage)
  }

  test("hierarchy flatten: construction runs at most 6 Spark jobs") {
    // jobs tagged with this test's job group, counted by a listener; a
    // marker job in another group, seen by the same listener after them,
    // drains the (in-order) listener bus
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("hierarchy-construct") => jobs.incrementAndGet()
          case Some("hierarchy-marker") => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("hierarchy-construct", "construction")
      val df = SparkEntry.queries("q_hierarchy_flatten")(spark, sfDir)
      sc.setJobGroup("hierarchy-marker", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      info(s"construction jobs: ${jobs.get}")
      assert(jobs.get <= 6, s"construction ran ${jobs.get} jobs")
      assert(df.collect().nonEmpty)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("mann-whitney: doubled-rank U equals a driver-side rank-sum") {
    val vals = tables.lineitem
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_quantity"), col("l_returnflag")).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    val sorted = vals.sortBy(_._1)
    // midranks via tie runs (1-based ranks)
    var i = 0
    var r1 = 0.0 // rank sum of group 'R'
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val mid = (i + 1 + j).toDouble / 2.0 // avg of ranks i+1..j
      r1 += mid * (i until j).count(x => sorted(x)._2 == "R")
      i = j
    }
    val n1 = vals.count(_._2 == "R").toLong
    val u1Expect = r1 - n1.toDouble * (n1 + 1).toDouble / 2.0
    val row = ops.Stats.qMannWhitney(tables).head()
    assert(row.getLong(0) == n1)
    assert(row.getDouble(2) == u1Expect)
  }

  test("lr training: weights match a driver-side GD recompute") {
    import graft.ext.Classifier
    val feat = Classifier.features(tables).collect().map { r =>
      (Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)), r.getLong(6))
    }
    val S = Classifier.Scale.toDouble
    val n = feat.length
    var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to 3) {
      val sums = Array.fill(5)(BigInt(0))
      feat.foreach { case (x, y) =>
        val z = (0 until 5).map(j => w(j) * (x(j).toDouble / S)).sum
        // HALF_UP like the engine's round() — math.round rounds -x.5
        // toward +inf, away-from-zero is what both engines do
        val g = BigDecimal((y.toDouble - 1.0 / (1.0 + math.exp(-z))) * S)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        for (j <- 0 until 5) sums(j) += BigInt(g) * BigInt(x(j))
      }
      val den = n.toDouble * S * S
      w = w.zipWithIndex.map { case (wj, j) =>
        wj + 6.0 * sums(j).toDouble / den
      }
    }
    val row = Classifier.qLrTrain(tables).head()
    val got = (0 until 5).map(j => row.getDouble(4 + j))
    // the driver fold sums in row order vs the engine's integer partials —
    // integer sums are order-free, so the weights must be IDENTICAL
    assert(got == w.toSeq, s"weights diverge: $got vs ${w.toSeq}")
    // sanity: minority-positive labels push the bias negative
    assert(row.getDouble(4) < 0.0)
    assert(row.getLong(0) == n)
  }

  test("nb confusion: matrix partitions the corpus; majority class learned") {
    val rows = graft.ext.Classifier.qNbConfusion(tables).collect()
    val total = rows.map(_.getLong(2)).sum
    val nDocs = tables.documents.count()
    assert(total == nDocs, "confusion matrix must cover every document")
    // the dominant class's own row must peak on the diagonal — the
    // weakest claim that survives the synthetic corpus's shared vocab
    val enRow = rows.filter(_.getString(0) == "en")
    val enDiag = enRow.filter(_.getString(1) == "en").map(_.getLong(2)).sum
    assert(enDiag == enRow.map(_.getLong(2)).max,
      "en documents should be predicted en more than any other class")
  }

  test("ks: D equals a driver-side two-sample ECDF sweep") {
    val vals = tables.orders
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_totalprice"), col("o_orderstatus")).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    val n1 = vals.count(_._2 == "F").toLong
    val n2 = vals.count(_._2 == "O").toLong
    val byV = vals.groupBy(_._1).toSeq.sortBy(_._1)
    var c1 = 0L; var c2 = 0L; var best = 0L
    byV.foreach { case (_, vs) =>
      c1 += vs.count(_._2 == "F"); c2 += vs.count(_._2 == "O")
      best = math.max(best, math.abs(c1 * n2 - c2 * n1))
    }
    val row = ops.Stats.qKsTest(tables).head()
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getLong(2) == best)
  }
}
