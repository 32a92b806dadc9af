package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

import org.apache.spark.sql.functions._

/** Extension-tier unit tests: dedup, similarity, text analysis, multimodal. */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  private val nearDupA =
    "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private val nearDupB =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private val unrelated =
    "completely different words about spark catalyst optimizer plans and shuffles"

  test("minhash LSH surfaces a crafted near-duplicate pair and skips unrelated docs") {
    val docs = Seq((1L, nearDupA), (2L, nearDupB), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("shingles produce word 3-grams") {
    val got = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
  }

  test("jaccard ground truth: prefix-filter pairs equal driver brute force") {
    // crafted corpus: clones, threshold-adjacent variants, hot
    // boilerplate shared by otherwise-unrelated docs, and singletons —
    // the shapes the adversarial stress leans on
    val boiler = (0 until 6).map(i => s"bp$i").mkString(" ")
    val base = (0 until 24).map(i => s"w$i").mkString(" ")
    val texts = Seq(
      1L -> base,
      2L -> base, // exact clone
      3L -> ((0 until 21).map(i => s"w$i") ++
        (0 until 3).map(i => s"x$i")).mkString(" "), // j = 19/25 = 0.76
      4L -> ((0 until 14).map(i => s"w$i") ++
        (0 until 10).map(i => s"y$i")).mkString(" "), // below threshold
      5L -> (s"$boiler " + (0 until 18).map(i => s"p$i").mkString(" ")),
      6L -> (s"$boiler " + (0 until 18).map(i => s"q$i").mkString(" ")),
      7L -> "one two three")
    val docs = texts.toDF("id", "text")
    val shingled = docs
      .withColumn("shd",
        call_function("shingle_hashes", Dedup.words(col("text")), lit(3)))
      .filter(size(col("shd")) > 0)
      .select("id", "shd")
    val got = Dedup.jaccardGroundTruthFromShingled(shingled, 0.7)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // driver brute force over 3-gram string sets
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val expect = (for {
      (a, ta) <- texts; (b, tb) <- texts if a < b
      ga = grams(ta); gb = grams(tb)
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size
      if j >= 0.7
    } yield (a, b) -> BigDecimal(j).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(got == expect, s"got=$got expect=$expect")
    // the fixture must exercise a non-trivial recall surface: at least
    // the clone pair and the threshold-adjacent pair
    assert(expect.contains((1L, 2L)) && expect.contains((1L, 3L)))
    assert(!expect.contains((1L, 4L)) && !expect.contains((5L, 6L)))
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val fps = Seq((1L, nearDupA), (2L, nearDupB), (3L, unrelated))
      .toDF("id", "text")
      .select(col("id"), Dedup.simhash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)))
    assert(ham(fps(1L), fps(2L)) <= 8)
  }

  test("brute-force knn: k rows per query, sims in [-1,1] descending, no self") {
    val out = Similarity.qKnnBrute(tables).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 5)
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
      assert(rows.forall(_.getLong(1) != qid))
    }
  }

  test("native cosine_sim is bit-identical to the higher-order formulation") {
    val emb = tables.embeddings
      .select(col("embedding").cast("array<double>").as("v"))
      .limit(100)
    val d = emb.select(
      Similarity.cosine(col("v"), reverse(col("v"))).as("native"),
      Similarity.cosineHof(col("v"), reverse(col("v"))).as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("cosine matches a hand computation") {
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val sim = df.select(Similarity.cosine(col("a"), col("b")).as("s")).as[Double].head()
    assert(math.abs(sim - 0.5) < 1e-12) // dot=1, norms=sqrt(2)*sqrt(2)
  }

  test("IVF knn returns k neighbors per query with decent overlap vs brute") {
    val brute = Similarity.qKnnBrute(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.qKnnIvf(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    // learned centroids + 2-cell multi-probe: ~0.47 measured on the
    // quasi-random test corpus (clustered real embeddings prune far
    // better); the bar guards the mechanism, not the corpus
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"IVF recall vs brute = $recall")
    assert(recall > 0.3, s"recall=$recall")
  }

  test("PQ codes: one digit per subspace, errors exact, training helps") {
    val rows = Similarity.qPqCodes(tables).collect()
    val emb = tables.embeddings.count()
    assert(rows.length == emb)
    rows.foreach { r =>
      val code = r.getString(1)
      assert(code.length == 8, s"code $code")
      assert(code.forall(c => c >= '0' && c <= '3'), s"digit range: $code")
      assert(r.getLong(2) >= 0L)
    }
    // codebooks must actually discriminate (not everything in one cell)
    assert(rows.map(_.getString(1)).distinct.length > rows.length / 4)
    // Lloyd training reduces reconstruction error vs the label-init
    // codebooks (zero rounds = quantize against the raw label means)
    val trained = rows.map(_.getLong(2)).sum / rows.length.toDouble
    val untrained = Similarity.qPqCodes(tables, rounds = 0)
      .collect().map(_.getLong(2)).sum / rows.length.toDouble
    info(s"mean recon err: trained=$trained init=$untrained")
    assert(trained <= untrained, s"$trained > $untrained")
    // bit-deterministic: a re-run reproduces every code and error
    val again = Similarity.qPqCodes(tables).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("PQ ADC search: k ranked rows per query, recall consistent with compression") {
    val rows = Similarity.qPqSearch(tables).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      assert(rs.length <= 5)
      assert(rs.forall(_.getLong(1) != qid))
      val dists = rs.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
        s"ADC distances not ascending for $qid")
      assert(dists.forall(_ >= 0L))
    }
    // the right baseline is exact L2 (ADC approximates L2, not cosine):
    // 5-bit-per-subspace codes are a lossy ~25x compression, so the bar
    // guards the mechanism — far above random top-5 overlap (~1%)
    val vecs = tables.embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .as[(Long, Seq[Double])].collect().toMap
    val exact = byQ.keys.flatMap { qid =>
      val qv = vecs(qid)
      vecs.iterator.filter(_._1 != qid)
        .map { case (nid, nv) =>
          val d = qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum
          (nid, d)
        }
        .toSeq.sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val adc = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & adc).size.toDouble / exact.size
    info(s"PQ-ADC recall vs exact L2 = $recall")
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("IVF-PQ search: probed-cell ADC ranking, recall above the flat-scan floor") {
    val rows = Similarity.qKnnIvfPq(tables).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      assert(rs.length <= 5)
      assert(rs.forall(_.getLong(1) != qid))
      val dists = rs.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
        s"ADC distances not ascending for $qid")
      assert(dists.forall(_ >= 0L))
    }
    // recall vs exact L2 top-5: bounded above by the nProbe=2 cell
    // ceiling and below by quantization — the bar guards the two-level
    // mechanism (residual coding must beat random by >20x)
    val vecs = tables.embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .as[(Long, Seq[Double])].collect().toMap
    val exact = byQ.keys.flatMap { qid =>
      val qv = vecs(qid)
      vecs.iterator.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .toSeq.sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(s"IVF-PQ recall vs exact L2 = $recall")
    assert(recall >= 0.25, s"recall=$recall")
  }

  test("DP release: seeded Laplace noise, calibrated to 1/eps, reproducible") {
    val out = ext.Sampling.qDpRelease(tables).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty && out.length % 3 == 0) // 3 eps per event type
    out.foreach { case (et, eps, n, noisy, err) =>
      assert(Seq(0.5, 1.0, 2.0).contains(eps))
      // |noise| is bounded by (1/eps) * ln(2^60) ~ 41.6/eps + rounding
      assert(err <= 41.6 / eps + 1e-6, s"$et eps=$eps err=$err")
      // noisy_n and abs_err are rounded independently at 1e-9, so the
      // magnitudes agree only to that precision
      assert(math.abs(math.abs(noisy - n) - err) < 2e-9,
        s"$et: |noisy-n|=${math.abs(noisy - n)} vs abs_err=$err")
    }
    // seeded draw: a rerun releases the identical values
    val again = ext.Sampling.qDpRelease(tables).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(3)))
    assert(again.toSeq == out.map(x => (x._1, x._2, x._4)).toSeq)
    // calibration: total |noise| at eps=0.5 exceeds total at eps=2 (4x
    // scale; with >=5 event types the seeded draws can't all invert it)
    val byEps = out.groupBy(_._2).map { case (e, rs) => e -> rs.map(_._5).sum }
    assert(byEps(0.5) > byEps(2.0),
      s"noise not calibrated: ${byEps.toSeq.sorted}")
  }

  test("IVF-PQ recall curve: monotone non-decreasing in nProbe, sane bounds") {
    val rows = Similarity.qIvfPqRecall(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // n_queries is whatever the sampling rule selects from THIS corpus —
    // derive it, don't pin it (a regenerated embeddings table must not
    // break a structural test)
    val nQueries = tables.embeddings
      .filter(expr("vec_id % 50 = 0")).count()
    rows.foreach { case (np, nq, hits, recall) =>
      assert(nq == nQueries)
      assert(hits >= 0L && hits <= 5L * nq)
      assert(math.abs(recall - hits.toDouble / (5.0 * nq)) < 1e-12)
    }
    // probing more cells can only add candidates: recall is monotone
    val recalls = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nProbe: ${recalls.toSeq}")
    // the nProbe=2 curve point must agree with the OPERATING search
    // (qKnnIvfPq at its default nProbe=2) scored against the same exact
    // micro-unit-L2 top-5 — same mechanism, two formulations, one number
    // floor(x*1e6) exactly as Similarity.microUnits — a round-half-up
    // (+0.5) here would differ by 1 unit in ~half the coordinates and
    // could flip a top-5 set on a regenerated corpus (r7 advice)
    val vecs = tables.embeddings
      .selectExpr("vec_id",
        "transform(embedding, x -> floor(cast(x as double) * 1e6)) as v")
      .as[(Long, Seq[Double])].collect().toMap
    val got = Similarity.qKnnIvfPq(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exact sets for EVERY sampled query (a query with zero probed-cell
    // candidates still contributes topK misses to the denominator, exactly
    // as the curve counts it)
    val exact = vecs.keys.filter(_ % 50 == 0).toSeq.flatMap { qid =>
      val qv = vecs(qid)
      vecs.iterator.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .toSeq.sortBy { case (nid, d) => (d, nid) }.take(5)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val opRecall = (exact & got.toSet).size.toDouble / exact.size
    info(s"operating-point recall = $opRecall, curve nProbe=2 = ${recalls(1)}")
    assert(math.abs(recalls(1) - opRecall) < 1e-12)
  }

  test("vocab growth: monotone cumulative curves ending at the corpus totals") {
    val rows = TextAnalysis.qVocabGrowth(tables).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    Seq[((Long, Long, Long, Long)) => Long](_._2, _._3, _._4).foreach { f =>
      val xs = rows.map(f)
      assert(xs.zip(xs.tail).forall { case (a, b) => a <= b },
        s"cumulative column not monotone: ${xs.toSeq}")
    }
    // the last checkpoint covers every doc: totals equal direct counts
    assert(rows.last._2 == tables.documents.count())
    val allVocab = tables.documents
      .select(explode(Dedup.words(col("text"))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    assert(rows.last._4 == allVocab)
  }

  test("Heaps law: saturating-vocabulary exponent in [0, 1]") {
    val r = TextAnalysis.qHeapsLaw(tables).head()
    assert(r.getLong(0) == 10L)
    // the synthetic corpus draws from a fixed 31-word template
    // vocabulary, so V saturates inside the first checkpoint and beta is
    // exactly 0 — the operator reporting "this corpus adds no new words"
    // is the correct answer here; natural corpora land around 0.4-0.6
    val beta = r.getDouble(1)
    assert(beta >= 0.0 && beta <= 1.0, s"beta=$beta")
    // logk must then reproduce the saturated vocabulary: V = e^logk
    val vocab = tables.documents
      .select(explode(Dedup.words(col("text"))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    if (beta == 0.0)
      assert(math.abs(math.exp(r.getDouble(2)) - vocab) < 1e-6 * vocab)
  }

  test("dup evidence: verified pairs match the rare-gram verify, evidence is rare shared grams") {
    val ev = Dedup.qDupEvidence(tables).collect()
    val verifyPairs = Dedup.qDedupMinhashVerify(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ev.map(r => (r.getLong(0), r.getLong(1))).toSet == verifyPairs)
    ev.foreach { r =>
      val parts = r.getString(4).split('|')
      assert(parts.nonEmpty && parts.length <= 3)
      parts.foreach { p =>
        val df = p.takeWhile(_ != ':').toLong
        assert(df >= 2, s"evidence gram not shared: $p") // shared by the pair
        assert(p.dropWhile(_ != ':').drop(1).nonEmpty)
      }
      assert(r.getLong(3) >= parts.length) // n_shared bounds the evidence
    }
  }

  test("dedup cost model: stage volumes ordered, naive matches doc count") {
    val rows = Dedup.qDedupCostModel(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1L to 5L))
    val byStage = rows.map(r => r._2 -> r).toMap
    val nDocs = byStage("naive_all_pairs")._3
    assert(byStage("naive_all_pairs")._4 == nDocs * (nDocs - 1) / 2)
    // distinct candidates never exceed the admitted bucket volume (the
    // latter counts a pair once per shared bucket); verify only filters
    assert(byStage("candidates_distinct")._4 <= byStage("buckets_admitted")._4)
    assert(byStage("verified_pairs")._4 <= byStage("candidates_distinct")._4)
    assert(byStage("verified_pairs")._4 ==
      Dedup.qDedupMinhashVerify(tables).count())
    rows.foreach { r => assert(r._5 >= 0.0) }
    assert(math.abs(byStage("naive_all_pairs")._5 - 1.0) < 1e-12)
  }

  test("ANN cost curve: candidates monotone in nProbe, shares consistent") {
    val rows = Similarity.qAnnCostCurve(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val cands = rows.map(_._3)
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      s"candidate volume not monotone: ${cands.toSeq}")
    rows.foreach { case (_, nq, c, mean, share) =>
      assert(math.abs(mean - c.toDouble / nq) < 1e-6)
      assert(share > 0.0 && share <= 1.0)
    }
    // non-default parameters must NOT silently read the default-config
    // cache (r7 advice): a shallower sweep is the exact prank<=2 slice,
    // and a different query sampling changes the denominator
    val shallow = Similarity.qAnnCostCurve(tables, maxProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(shallow.toSeq == rows.take(2).map(r => (r._1, r._3)).toSeq)
    val resampled =
      Similarity.qAnnCostCurve(tables, maxProbe = 2, queryMod = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nq100 = tables.embeddings
      .filter(expr("vec_id % 100 = 0")).count()
    assert(resampled.forall(_._2 == nq100))
    // half the query set -> strictly fewer candidates than the full set
    resampled.foreach { case (np, _, c) =>
      val full = rows.find(_._1 == np).get._3
      assert(c < full, s"nprobe=$np: resampled $c !< default $full")
    }
  }

  test("split leakage: agrees with a driver-side first-principles recompute") {
    val rows = graft.ext.Sampling.qSplitLeakage(tables).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val docs = tables.documents
      .select(TextAnalysis.fingerprint(col("text")).as("fp"),
        expr("substring(md5(concat(text, cast(doc_id as string))), 1, 2)")
          .as("h2"))
      .withColumn("split",
        when(col("h2") < "cd", "train")
          .when(col("h2") < "e7", "val").otherwise("test"))
      .select("fp", "split").as[(String, String)].collect()
    val expected =
      scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
        .withDefaultValue((0L, 0L))
    docs.groupBy(_._1).values.foreach { g =>
      val cs = g.groupBy(_._2).map { case (s, xs) => s -> xs.length.toLong }
      val ks = cs.keys.toSeq.sorted
      for (i <- ks.indices; j <- i + 1 until ks.length) {
        val key = (ks(i), ks(j))
        val (ng, np) = expected(key)
        expected(key) = (ng + 1, np + cs(ks(i)) * cs(ks(j)))
      }
    }
    assert(rows == expected.toMap)
    // the synthetic corpus has real template duplicates, so a random
    // per-document split MUST leak — the audit existing is the point
    assert(rows.values.map(_._2).sum > 0, "no leakage found (suspicious)")
  }

  test("DoReMi mix: weights positive, sum to one, monotone in excess surprisal") {
    val rows = graft.ext.Sampling.qMixDoremi(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length ==
      tables.documents.select("source").distinct().count())
    assert(rows.forall(_._5 > 0.0))
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-6)
    // exp is increasing: sorting by excess must sort by weight
    val byExcess = rows.sortBy(_._4).map(_._5)
    assert(byExcess.zip(byExcess.tail).forall { case (a, b) => a <= b })
    // token-weighted mean of the excesses is ~0 by construction
    val tok = rows.map(_._2).sum.toDouble
    val wmean = rows.map(r => r._4 * r._2).sum / tok
    assert(math.abs(wmean) < 1e-6, s"excess not centered: $wmean")
  }

  test("DoReMi schedule: targets spend the budget, rates/epochs consistent") {
    val w = graft.ext.Sampling.qMixDoremi(tables).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    val rows = graft.ext.Sampling.qMixSchedule(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))
    assert(rows.length == w.size)
    val budget = w.values.map(_._1).sum
    rows.foreach { case (src, avail, weight, target, rate, epochs) =>
      val (nTok, dWeight) = w(src)
      assert(avail == nTok)
      assert(weight == dWeight) // the same column, bit-for-bit
      // integer floor allocation: target within one weight-share of the
      // exact proportional slice, never negative
      assert(target >= 0 && target <= budget)
      assert(math.abs(rate - target.toDouble / avail) < 1e-8)
      assert(epochs == (target + avail - 1) / avail)
      // upweighted sources repeat, damped ones subsample
      if (rate > 1.0) assert(epochs >= 2L) else assert(epochs <= 1L)
    }
    // floor allocation can only undershoot, by at most one token per row
    val spent = rows.map(_._4).sum
    assert(spent <= budget && spent >= budget - rows.length)
  }

  test("shard skew: populations reconcile, shares sum to one") {
    val rows = graft.ext.Sampling.qShardSkew(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.forall(r => r._1 >= 0 && r._1 < 16))
    assert(rows.map(_._2).sum == tables.documents.count())
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-6)
    rows.foreach(r => assert(math.abs(r._6 - (r._4 - 1.0 / 16)) < 2e-9))
  }

  test("IVF ingest report: cell populations reconcile, shares in range") {
    val rows = Similarity.qIvfIngest(tables).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == tables.embeddings.count())
    rows.foreach { r =>
      val share = r.getDouble(3)
      assert(share >= 0.0 && share <= 1.0)
      // drift = mean_arrival - mean_incumbent whenever both sides exist
      if (!r.isNullAt(4) && !r.isNullAt(5))
        assert(math.abs(r.getDouble(6) - (r.getDouble(5) - r.getDouble(4))) < 2e-9)
    }
  }

  test("SemDeDup: one keeper per group, keeper is farthest from centroid, singletons self-keep") {
    val rows = Similarity.qSemDedup(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.length == 500) // a decision per corpus vector
    val byGrp = rows.groupBy(_._3)
    byGrp.foreach { case (grp, mem) =>
      assert(mem.count(_._5 == 1L) == 1, s"group $grp keeper count != 1")
      // keep rule: lowest centroid similarity, ties to the lower vec_id
      val keeper = mem.minBy(m => (m._4, m._1))
      assert(keeper._5 == 1L, s"group $grp kept the wrong member")
      // group id is the min member id and every member shares one cell
      assert(mem.map(_._1).min == grp)
      assert(mem.map(_._2).distinct.length == 1,
        s"group $grp spans cells ${mem.map(_._2).distinct.toSeq}")
    }
    val pruned = rows.count(_._5 == 0L)
    info(s"groups=${byGrp.size} pruned=$pruned of ${rows.length}")
    // the corpus has semantic neighborhoods but no exact dups: pruning
    // should bite (mechanism works) without collapsing the corpus
    assert(pruned > 20 && pruned < 250, s"pruned=$pruned")
  }

  test("Lloyd's iterations sharpen mixed label-mean centroids onto the true clusters") {
    // two exact clusters on orthogonal axes; labels only 60/40-correlated
    // with the clusters, so the init (label means) is a blurred mix of both
    // axes — the Lloyd rounds must converge the centroids to the pure
    // cluster means
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    val rows = (0 until 40).map { i =>
      val inA = i < 20
      val label = (inA, i % 5 < 3) match { // 12/8 vs 8/12 label mix
        case (true, true) => 0
        case (true, false) => 1
        case (false, true) => 1
        case (false, false) => 0
      }
      (i.toLong, label, if (inA) a else b)
    }
    val emb = rows.toDF("vec_id", "label", "vec")
    val cents = Similarity.lloydCentroids(emb, iters = 3, trainMod = 1)
    assert(cents.length == 2)
    val byAxis = cents.map(c => c.indexOf(c.max)).toSet
    assert(byAxis == Set(0, 1), s"centroids not on distinct axes: $byAxis")
    cents.foreach(c => assert(c.max > 0.99, s"centroid not sharpened: ${c.toSeq}"))
  }

  test("LSH knn: k rows per query, ranked desc, recall >= 0.8 vs brute force") {
    val brute = Similarity.qKnnBrute(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.qKnnLsh(tables).collect()
    val byQ = lsh.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length <= 5)
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_.getLong(1) != qid))
    }
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lshPairs).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("portable LSH knn: structure sound, recall >= 0.8 vs brute force") {
    val brute = Similarity.qKnnBrute(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.qKnnLshPortable(tables).collect()
    val byQ = lsh.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length <= 5)
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_.getLong(1) != qid))
    }
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lshPairs).size.toDouble / brute.size
    info(s"portable-LSH recall vs brute = $recall")
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("ann recall audit: one row per query, hits consistent with the two rankings") {
    val out = Similarity.qAnnRecall(tables).collect()
    val brute = Similarity.qKnnBrute(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.qKnnLshPortable(tables).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    assert(out.map(_.getLong(0)).toSet == brute.map(_._1))
    out.foreach { r =>
      val (qid, nBrute, nHits, recall) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nBrute == 5L)
      assert(nHits == brute.filter(_._1 == qid).count(lsh.contains))
      assert(recall == nHits.toDouble / nBrute)
    }
  }

  test("dedup funnel: conservation per source and exact-drop reconciliation") {
    val rows = Dedup.qDedupPipeline(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ex, near, surv) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ex + near + surv == n, s"conservation broken for ${r.getString(0)}")
      assert(surv > 0)
    }
    // exact drops across sources equal the corpus-wide exact-dup census
    val exactTotal = rows.map(_.getLong(2)).sum
    val census = Dedup.qDedupExact(tables)
      .agg(org.apache.spark.sql.functions.sum("n_dupes")).head.getLong(0)
    assert(exactTotal == census, s"$exactTotal != $census")
  }

  test("md5 sign matrix: balanced-ish and stable across invocations") {
    val m1 = Similarity.md5SignMatrix(30, 64)
    val m2 = Similarity.md5SignMatrix(30, 64)
    assert(m1 == m2)
    val plus = m1.flatten.count(_ == 1L)
    assert(plus > 700 && plus < 1220, s"sign skew: $plus of 1920")
  }

  test("portable simhash: exact dup at hamming 0, crafted near-dup found, unrelated absent") {
    val docs = Seq(
      (1L, nearDupA), (2L, nearDupB), (3L, unrelated), (4L, nearDupA))
      .toDF("doc_id", "text")
    val got = Dedup
      .simhashPortablePairs(docs, "doc_id", "text", maxHamming = 12, maxBucket = 100)
      .as[(Long, Long, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair.get((1L, 4L)).contains(0L), s"exact dup not at hamming 0: $byPair")
    assert(byPair.contains((1L, 2L)), s"near-dup pair missing: $byPair")
    assert(!got.exists(r => r._1 == 3L || r._2 == 3L), s"unrelated doc paired: $byPair")
    got.foreach { case (id1, id2, ham) =>
      assert(id1 < id2 && ham >= 0L && ham <= 12L)
    }
  }

  test("embed dedup big-cell sub-blocking bounds candidate pairs far below n^2") {
    // 10k random-ish vectors in ONE label cell: the uncapped all-pairs path
    // would materialize ~50M pairs; the banded sub-blocking must not
    val n = 10000
    val emb = spark.range(n).toDF("vec_id")
      .withColumn("label", lit(0))
      .withColumn("v", expr(
        "transform(sequence(0, 15), d -> cast(pmod(xxhash64(vec_id, d), 1000) as double) / 500.0 - 1.0)"))
    val candCount = Similarity.embedCandidatePairs(emb).count()
    assert(candCount > 0)
    assert(candCount < n.toLong * n / 20, s"candidates=$candCount") // <5% of all-pairs
    // end-to-end big-cell path completes and self-similar vectors verify
    val dupes = Similarity.embedDupPairs(
      emb.union(emb.limit(1).withColumn("vec_id", lit(n.toLong))),
      threshold = 0.999, maxCell = 1000).count()
    assert(dupes >= 1) // vec n is a copy of vec 0
  }

  test("embed dedup small-cell path is exact (identical to all-pairs)") {
    val emb = tables.embeddings.select(
      col("label"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = emb.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"))
    val b = emb.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"))
    val exact = a.join(b, Seq("label")).filter(col("id1") < col("id2"))
      .withColumn("sim", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("sim") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val guarded = Similarity.embedDupPairs(emb, threshold = 0.5, maxCell = 100000)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(guarded == exact)
  }

  test("ngram jaccard skew guard drops language-wide stop-words from both sides") {
    // 'common' appears in every doc -> hot join key -> must be excluded;
    // jaccard is then over the remaining words only
    val t = tables // oracle parity is covered by the driver; here: semantics
    val out = Dedup.qNgramJaccard(t).collect()
    assert(out.forall(r => r.getDouble(2) > 0 && r.getDouble(2) <= 1.0))
  }

  test("native word_shingles matches the HOF transform/slice formulation") {
    // incl. short-doc clamp (one whole-doc gram) and the empty-text edge
    val df = Seq("a b c d e", "a b", "", "x", "w1  w2   w3 w4").toDF("text")
    val w = split(trim(lower(col("text"))), " +")
    val hof = transform(
      sequence(lit(0), greatest(size(w) - 3, lit(0))),
      i => array_join(slice(w, i + lit(1), lit(3)), " "))
    Seq(2, 3, 4).foreach { n =>
      val hofN = transform(
        sequence(lit(0), greatest(size(w) - n, lit(0))),
        i => array_join(slice(w, i + lit(1), lit(n)), " "))
      df.select(Dedup.shingles(col("text"), n).as("a"), hofN.as("b"))
        .collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("chunk plans tile each document: stride 24, bounded length, full coverage") {
    val rows = graft.ext.TextAnalysis.qTextChunks(tables).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i)             // contiguous chunk ids
        assert(r.getLong(2) == i * 24L)       // stride
        assert(r.getLong(3) <= 32L)           // bounded length
      }
      val last = sorted.last
      val n = last.getLong(4)
      // the final chunk reaches the end of the document
      assert(last.getLong(2) + last.getLong(3) == n || n == 0)
    }
  }

  test("sequence packing conserves tokens and fills bins in order") {
    val rows = graft.ext.TextAnalysis.qPackSequences(tables).collect()
    val totalPacked = rows.map(_.getLong(3)).sum
    val totalTokens = tables.documents
      .select(graft.ext.TextAnalysis.tokenCount(col("text")).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(totalPacked == totalTokens, "packing lost or duplicated tokens")
    rows.groupBy(_.getString(0)).foreach { case (_, bins) =>
      val ids = bins.map(_.getLong(1)).sorted.toSeq
      assert(ids == (0L until ids.length.toLong).toSeq,
        "bins not contiguous from 0")
    }
  }

  test("source KL divergence is non-negative and detects real drift") {
    val rows = graft.ext.TextAnalysis.qSourceKl(tables).collect()
    assert(rows.nonEmpty)
    // KL >= 0 up to the 1e-9 log rounding; some source must differ from
    // the blend (identical distributions across all sources would be a
    // generator bug, not a property of real corpora)
    rows.foreach(r => assert(r.getDouble(2) >= -1e-6, s"negative KL: $r"))
    assert(rows.exists(_.getDouble(2) > 1e-4), "no source drift detected")
  }

  test("keep-best dedup picks the highest-quality member of every dup group") {
    val groups = Dedup.qDedupKeepBest(tables).collect()
    assert(groups.nonEmpty)
    val fps = tables.documents
      .select(col("doc_id"),
        graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().groupBy(_._2)
    groups.foreach { r =>
      val members = fps(r.getString(0)).map(_._1)
      assert(r.getLong(1) == members.length, "group size mismatch")
      assert(r.getLong(1) >= 2)
      assert(members.contains(r.getLong(2)), "winner not in its group")
    }
  }

  test("contamination flags only non-benchmark docs, with positive shared-gram counts") {
    val out = Dedup.qContamination(tables).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 97 != 0, "benchmark doc leaked into the report")
      assert(r.getLong(1) >= 1)
    }
  }

  test("unigram surprisal is positive and rare-word docs score above common-word docs") {
    val out = graft.ext.TextAnalysis.qUnigramSurprisal(tables).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) > 0.0))
    // sanity vs a direct recomputation for one doc: surprisal is an average
    // of per-word -ln p weighted by occurrences, so it is bounded by the
    // extreme word surprisals of the corpus
    val maxSp = out.map(_.getDouble(2)).max
    val nWords = tables.documents
      .select(explode(split(trim(lower(col("text"))), " +")))
      .distinct().count()
    assert(maxSp <= math.log(nWords.toDouble * 1000), s"implausible surprisal $maxSp")
  }

  test("connected components merges chains and keeps separate clusters apart") {
    // path 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("stratified sample is deterministic and respects per-stratum k") {
    val a = graft.ext.Sampling.qSampleStratified(tables).collect()
    val b = graft.ext.Sampling.qSampleStratified(tables).collect()
    assert(a.toSeq == b.toSeq)
    val perStratum = a.groupBy(r => (r.getString(0), r.getString(1))).values
    assert(perStratum.forall(_.length <= 3))
    perStratum.foreach { rows => // rn is contiguous from 1 within each stratum
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("token counting handles empty and multi-space text") {
    val got = Seq("", "  ", "one", " a  b   c ").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("n"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 0L, 1L, 3L))
  }

  test("fingerprint is invariant to word order and duplication") {
    val fps = Seq("b a c", "c b a", "a a b c c", "a b d")
      .toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[String].collect()
    assert(fps(0) == fps(1) && fps(1) == fps(2))
    assert(fps(3) != fps(0))
  }

  test("wordOccurrences counts standalone tokens only") {
    val df = Seq("the theme of the day").toDF("t")
    assert(df.select(TextAnalysis.wordOccurrences(col("t"), "the")).as[Long].head() == 2L)
    assert(df.select(TextAnalysis.wordOccurrences(col("t"), "theme")).as[Long].head() == 1L)
    assert(df.select(TextAnalysis.wordOccurrences(col("t"), "absent")).as[Long].head() == 0L)
  }

  test("poly_hash matches the hand-computed rolling hash") {
    // "ab": ((17*31 + 'a')*31 + 'b')
    val expected = (17L * 31 + 'a'.toLong) * 31 + 'b'.toLong
    val got = Seq("ab").toDF("t")
      .select(call_function("poly_hash", col("t"))).as[Long].head()
    assert(got == expected)
    // order-sensitive, unlike the sorted-word fingerprint
    val Seq(h1, h2) = Seq("a b", "b a").toDF("t")
      .select(call_function("poly_hash", col("t"))).as[Long].collect().toSeq
    assert(h1 != h2)
  }

  test("embedding-cosine near-dup finds crafted duplicates within a label block") {
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(0.999f, 0.01f, 0.0f)), // near-dup of 1
      (3L, 0, Seq(0.0f, 1.0f, 0.0f)), // orthogonal
      (4L, 1, Seq(1.0f, 0.0f, 0.0f)) // identical direction, other block
    ).toDF("vec_id", "label", "embedding")
    val got = {
      import graft.ext.Similarity._
      val emb = rows.select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val a = emb.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"))
      val b = emb.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"))
      a.join(b, Seq("label")).filter(col("id1") < col("id2"))
        .withColumn("sim", cosine(col("v1"), col("v2")))
        .filter(col("sim") >= 0.95)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    }
    assert(got == Set((1L, 2L))) // 4 is blocked away despite identical direction
  }

  test("bpe-ish tokenizer counts vowel/consonant runs") {
    val got = Seq("aab bcc").toDF("text")
      .select(expr("size(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+', 0))"))
      .as[Int].head()
    // "aab bcc" -> "aa", "b" (stops at space), "bcc" (one greedy run)
    assert(got == 3)
  }

  test("frame sampling and resize plan over decoded metadata") {
    val payloads = Seq((1L, "some media payload bytes"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val meta = Multimodal.extractMeta(spark, payloads)
    val m = meta.collect().head

    val frames = Multimodal.sampleFrames(meta, everyN = 10)
      .select("frame_id").as[Long].collect().sorted
    assert(frames.head == 0L)
    assert(frames.length == (m.n_frames + 9) / 10)
    assert(frames.forall(_ % 10 == 0))

    val resized = Multimodal.resizePlan(meta, maxSide = 256).collect().head
    val outW = resized.getAs[Int]("out_w")
    val outH = resized.getAs[Int]("out_h")
    assert(outW <= 256 && outH <= 256)
    // aspect ratio preserved within rounding
    assert(math.abs(outW.toDouble / outH - m.width.toDouble / m.height) < 0.1)
  }

  test("decodeMedia parses real PNG/BMP/WAV headers; unknown payloads hit the stub") {
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)

    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    assert(Multimodal.decodeMedia(png) == (("png", 640, 480, 1)))

    val bmp = "BM".getBytes ++ new Array[Byte](12) ++ le32(40) ++ // DIB size
      le32(320) ++ le32(-200) ++ new Array[Byte](4) // neg height = top-down
    assert(Multimodal.decodeMedia(bmp) == (("bmp", 320, 200, 1)))
    // 'BM'-prefixed TEXT is not a bitmap (DIB size field won't match)
    assert(Multimodal.decodeMedia(
      "BMW recall data for the region, quarter two".getBytes)._1 == "synthetic")

    // 2-channel 16-bit 8 kHz PCM with 32 data bytes -> 8 sample frames
    val fmt = le16(1) ++ le16(2) ++ le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16)
    val wav = "RIFF".getBytes ++ le32(4 + 24 + 8 + 32) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ fmt ++
      "data".getBytes ++ le32(32) ++ new Array[Byte](32)
    assert(Multimodal.decodeMedia(wav) == (("wav", 2, 8000, 8)))

    // corrupt WAV chunk sizes terminate the walk instead of crashing:
    // negative size, and a near-2^31 size that would overflow int offsets
    Seq(0xffffffff, 0x7ffffff0).foreach { bad =>
      val corrupt = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(bad) ++ new Array[Byte](16)
      val (kind, _, _, frames) = Multimodal.decodeMedia(corrupt)
      assert(kind == "wav" && frames == 0)
    }

    assert(Multimodal.decodeMedia("just text".getBytes)._1 == "synthetic")
  }

  test("multimodal stub extracts deterministic metadata per partition batch") {
    val payloads = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val metas = Multimodal.extractMeta(spark, payloads).collect()
    val m = metas.map(x => x.doc_id -> x).toMap
    assert(m(1L).content_md5 == m(2L).content_md5)
    assert(m(1L).width == m(2L).width && m(1L).height == m(2L).height)
    assert(m(1L).content_md5 != m(3L).content_md5)
    assert(m(1L).byte_len == 11L)
    assert(m(1L).width >= 160 && m(1L).width <= 1280)
  }

  test("readability: syllable floor, integer micro-unit formulas, hand recount") {
    val rows = TextAnalysis.qReadability(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, syl) = (r.getLong(1), r.getLong(2))
      val (fk, fkG) = (r.getLong(3), r.getDouble(4))
      val (ease, easeG) = (r.getLong(5), r.getDouble(6))
      assert(syl >= w) // every word contributes at least one syllable
      assert(fk == 390000L * w + (11800000L * syl) / w - 15590000L)
      assert(ease == 206835000L - 1015000L * w - (84600000L * syl) / w)
      assert(fkG == fk / 1e6 && easeG == ease / 1e6)
    }
    // hand-recompute the syllable census for one doc with plain JVM regexes:
    // per-word max(1, vowel-group runs) must equal the column-expression
    // formulation (whole-text group count + vowel-less word count)
    val doc = tables.documents.filter(col("doc_id") === 0)
      .select("text").head.getString(0)
    val words = doc.trim.toLowerCase.split(" +")
    val syl0 = words.map(w =>
      math.max(1, "[aeiouy]+".r.findAllIn(w).length)).sum.toLong
    val row0 = rows.find(_.getLong(0) == 0L).get
    assert(row0.getLong(1) == words.length.toLong)
    assert(row0.getLong(2) == syl0)
  }
}
