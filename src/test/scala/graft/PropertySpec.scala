package graft

import graft.ext.{Dedup, Similarity}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: custom operators vs straightforward reference
  * implementations on generated inputs (fixed seeds — deterministic runs).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: bounded_topk equals sort-take per group, ties included") {
    val rowGen = Gen.listOfN(
      200,
      for {
        k <- Gen.choose(1L, 5L)
        s <- Gen.choose(0, 9).map(_.toDouble) // small domain -> many ties
        id <- Gen.choose(0L, 999L)
      } yield (k, s, id))
    for (seed <- 1L to 5L) {
      val rows = sample(rowGen, seed).distinct // total order under (score desc, id asc)
      val got = rows.toDF("k", "score", "id").repartition(7)
        .groupBy("k")
        .agg(call_function("bounded_topk",
          struct(col("score"), col("id")), lit(3), lit(true)).as("top"))
        .select(col("k"), explode(col("top")).as("item"))
        .select(col("k"), col("item.score"), col("item.id"))
        .as[(Long, Double, Long)].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        rs.map(r => (r._2, r._3)).distinct
          .sortBy { case (s, id) => (-s, id) }.take(3)
          .map { case (s, id) => (k, s, id) }
      }.toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("property: morton_code equals a bit-by-bit interleave reference") {
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val pairGen = Gen.listOfN(500, for {
      a <- Gen.choose(0L, Int.MaxValue.toLong)
      b <- Gen.choose(0L, Int.MaxValue.toLong)
    } yield (a, b))
    for (seed <- 1L to 3L) {
      val pairs = sample(pairGen, seed)
      val got = pairs.toDF("a", "b").repartition(5)
        .select(col("a"), col("b"), expr("morton_code(a, b)").as("z"))
        .as[(Long, Long, Long)].collect()
      got.foreach { case (a, b, z) =>
        assert(z == ref(a, b), s"morton($a, $b)")
        assert(z >= 0L)
        // locality: flipping only the lowest bit of each key perturbs
        // only the lowest interleaved bit pair — the shared prefix that
        // makes z-sorted neighbors close in BOTH dimensions
        assert(ref(a ^ 1L, b ^ 1L) >> 2 == z >> 2)
      }
    }
  }

  test("property: word_shingles equals a plain Scala sliding-window reference") {
    val textGen = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
      .map(_.mkString(" "))
    for (seed <- 1L to 5L; n <- Seq(1, 2, 3, 5)) {
      val texts = sample(Gen.listOfN(30, textGen), seed)
      val got = texts.toDF("text")
        .select(Dedup.shingles(col("text"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val want = texts.map { t =>
        val w = t.trim.toLowerCase.split(" +", -1).toSeq
        val count = math.max(w.length - n, 0) + 1
        (0 until count).map(i => w.slice(i, i + n).mkString(" "))
      }
      assert(got == want, s"seed=$seed n=$n")
    }
  }

  test("property: portable simhash is word-order and duplication invariant") {
    // order-freedom is what lets the distributed fingerprint hash-match a
    // serial SQL replay: the fingerprint must depend only on the distinct
    // word SET
    val textGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
    for (seed <- 1L to 5L) {
      val wordLists = sample(Gen.listOfN(20, textGen), seed)
      val rng = new scala.util.Random(seed)
      val rows = wordLists.zipWithIndex.map { case (ws, i) =>
        val shuffledDup = rng.shuffle(ws ++ rng.shuffle(ws).take(ws.length / 2))
        (i.toLong, ws.mkString(" "), shuffledDup.mkString(" "))
      }
      val d = rows.toDF("id", "a", "b").select(
        Dedup.portableSimhashCol(col("a")).as("fa"),
        Dedup.portableSimhashCol(col("b")).as("fb"))
      assert(d.filter(col("fa") =!= col("fb")).count() == 0L, s"seed=$seed")
    }
  }

  test("property: connectedComponents equals union-find on random graphs") {
    val edgeGen = Gen.listOfN(
      40,
      for {
        a <- Gen.choose(0L, 28L)
        b <- Gen.choose(1L, 29L)
      } yield (math.min(a, b), math.max(a, b) + (if (a == b) 1 else 0)))
    for (seed <- 1L to 3L) {
      val edges = sample(edgeGen, seed).filter(e => e._1 != e._2).distinct
      // local (adaptive union-find) path — under the default cutoff
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      // distributed min-label loop, forced — both paths must produce
      // identical labels
      val gotDist =
        Dedup.connectedComponents(edges.toDF("id1", "id2"), forceDistributed = true)
          .as[(Long, Long)].collect().toMap
      assert(got == gotDist, s"seed=$seed: local vs distributed diverge")

      // reference union-find with path compression, min-id roots
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(n => n -> find(n)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("property: hyperplane signature is scale-invariant for positive scaling") {
    val vecGen = Gen.listOfN(16, Gen.choose(-1000, 1000).map(_ / 250.0))
    val vecs = (1L to 20L).map(s => sample(vecGen, s))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val sigs = df.select(
      call_function("hyperplane_sig", col("v"), lit(64)).as("s1"),
      call_function("hyperplane_sig",
        transform(col("v"), x => x * 2.5), lit(64)).as("s2"))
      .as[(Long, Long)].collect()
    assert(sigs.forall { case (a, b) => a == b })
  }

  test("property: nearest_centroid equals the per-centroid cosine argmax") {
    val vecGen = Gen.listOfN(16, Gen.choose(-1000, 1000).map(_ / 250.0))
    val cents = (1L to 7L).map(s => sample(vecGen, s).toArray)
    // include an exact copy of a centroid (sim == 1.0 tie with itself) and
    // random vectors
    val vecs = cents(3).toSeq +: (100L to 130L).map(s => sample(vecGen, s))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val centsLit = typedLit(cents.map(_.toSeq))
    val simsArr = array(cents.map(c =>
      Similarity.cosine(col("v"), typedLit(c.toSeq))): _*)
    val out = df.select(
      call_function("nearest_centroid", col("v"), centsLit).as("fast"),
      (array_position(simsArr, array_max(simsArr)) - 1).cast("int").as("ref"))
      .as[(Int, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("property: cosine_sim is symmetric, bounded, and 1 on self") {
    val vecGen = Gen.listOfN(16, Gen.choose(-1000, 1000).map(_ / 250.0))
    val pairs = (1L to 10L).map(s => (sample(vecGen, s), sample(vecGen, s + 100)))
    val df = pairs.toDF("a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("b"), col("a")).as("ba"),
      Similarity.cosine(col("a"), col("a")).as("aa"))
      .as[(Double, Double, Double)].collect()
    out.foreach { case (ab, ba, aa) =>
      assert(ab == ba) // identical fold order both directions
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
      assert(math.abs(aa - 1.0) < 1e-12)
    }
  }

  test("property: BandRangeJoin rewrite is result-identical on random windowed joins") {
    // random (key, date) rows and a random whole-day window; the rule must
    // fire AND return exactly the naive join's pairs — including boundary
    // dates landing on bucket edges, clustered keys, and empty matches
    val rowGen = Gen.listOfN(
      120,
      for {
        k <- Gen.choose(1L, 6L)
        day <- Gen.choose(0, 200)
        id <- Gen.choose(0L, 99999L)
      } yield (k, java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(1995, 1, 1).plusDays(day).atStartOfDay()), id))
    for (seed <- 1L to 4L) {
      val rows = sample(rowGen, seed).distinct
      val windowDays = 1 + (seed % 45).toInt
      val df = rows.toDF("k", "d", "id").repartition(5)
      def joined() = {
        val a = df.select(col("k"), col("d").as("d1"), col("id").as("i1"))
        val b = df.select(col("k").as("k2"), col("d").as("d2"),
          col("id").as("i2"))
        a.join(b,
          col("k") === col("k2") && col("i1") < col("i2") &&
            col("d2") >= col("d1") &&
            col("d2") <= col("d1") + expr(s"INTERVAL $windowDays DAYS"))
          .select("i1", "i2")
      }
      val plan = joined().queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_band_bucket"), s"seed=$seed: rule did not fire")
      val got = joined().as[(Long, Long)].collect().toSet
      val want = (for {
        (k1, d1, i1) <- rows
        (k2, d2, i2) <- rows
        if k1 == k2 && i1 < i2 && !d2.before(d1) &&
          !d2.after(java.sql.Timestamp.valueOf(
            d1.toLocalDateTime.plusDays(windowDays)))
      } yield (i1, i2)).toSet
      assert(got == want, s"seed=$seed window=$windowDays")
    }
  }
}
