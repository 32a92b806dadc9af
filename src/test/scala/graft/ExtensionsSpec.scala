package graft

import org.apache.spark.sql.SparkSession

/** [[graft.functions.GraftExtensions]] as the one install list: a session
  * built with it (the `spark.sql.extensions` path) and a plain session
  * passed through `Engine.tune` both expose the native functions through
  * SQL, plan the as-of and prefix operators, and run the `BandRangeJoin`
  * rule.
  */
class ExtensionsSpec extends SparkSuite {

  /** A second session on the shared context, with or without the
    * extensions; the shared session is restored afterwards.
    * `spark.sql.extensions` is a static conf read at SparkContext setup,
    * and the shared context predates it, so this uses the builder's
    * programmatic form: the same class the conf would instantiate.
    */
  private def withSession(extended: Boolean)(f: SparkSession => Unit): Unit = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val builder = SparkSession.builder().master("local[4]")
    val s2 =
      (if (extended) builder.withExtensions(new graft.functions.GraftExtensions()) else builder)
        .getOrCreate()
    try f(s2)
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def assertInstalled(s2: SparkSession): Unit = {
    val c = s2.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    assert(s2.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy),
      "as-of strategy not installed")
    assert(s2.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(graft.plans.BandRangeJoin),
      "band-range-join rule not installed")
    import org.apache.spark.sql.functions.col
    val df = graft.ops.Prefix.running(
      s2.range(20).toDF("id"), Seq(col("id")), Nil, rowNumber = Some("rn"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 20L).map(i => (i, i + 1)))
    val stages = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    assert(stages.find(df.queryExecution.executedPlan)(
      _.isInstanceOf[graft.plans.PrefixExec]).isDefined,
      s"no PrefixExec:\n${df.queryExecution.executedPlan}")
  }

  /** Every `.scala` file under src/main, by path, with its text. */
  private def mainSources(): Seq[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"no source tree at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .toList
    } finally files.close()
  }

  /** The first group of every match of `literal` in src/main. */
  private def mainLiterals(literal: scala.util.matching.Regex): Set[String] =
    mainSources().flatMap { case (_, text) =>
      literal.findAllMatchIn(text).map(_.group(1))
    }.toSet

  test("GraftExtensions injects SQL functions and the as-of strategy") {
    withSession(extended = true) { s2 =>
      assertInstalled(s2)
      val sig = s2.sql(
        "SELECT hyperplane_sig(array(1.0d, -2.0d, 3.0d), 16) AS s")
        .head().getLong(0)
      assert(sig >= 0L && sig < (1L << 16))
    }
  }

  test("a session built only with GraftExtensions plans a PrefixExec") {
    withSession(extended = true) { s2 =>
      assertInstalled(s2)
      // the planner already has the strategies, so tune installs nothing
      Engine.tune(s2)
      assert(s2.experimental.extraStrategies.isEmpty)
      assert(s2.experimental.extraOptimizations.isEmpty)
    }
  }

  test("Engine.tune applies GraftExtensions in place to a plain session") {
    withSession(extended = false) { s2 =>
      assert(!s2.sessionState.planner.strategies.contains(graft.plans.PrefixStrategy))
      Engine.tune(s2)
      assertInstalled(s2)
    }
  }

  test("src/main reads exactly the three spark.graft conf keys") {
    // a conf key that only re-picks a code path is a second mechanism for
    // one decision; a new key must be added here on purpose
    val keys = mainLiterals("\"spark\\.graft\\.([A-Za-z.]+)\"".r)
    assert(keys == Set("checkpoint.reliable", "checkpoint.dir", "drain.timeoutMs"),
      s"spark.graft keys: $keys")
  }

  test("src/main reads exactly the six SPARK_GRAFT environment variables") {
    // same rule as the conf keys: a new variable must be added here on purpose
    val vars = mainLiterals("\"SPARK_GRAFT_([A-Z_]+)\"".r)
    assert(vars == Set("BENCH_OUT", "CPUS", "ONLY", "PLANS_OUT", "SF_DIR", "WARM"),
      s"SPARK_GRAFT variables: $vars")
  }

  test("src/main checkpoints only through Engine, and no operator takes a checkpoint flag") {
    // one materialization path: every checkpoint honours the checkpoint
    // mode and reports its stored size; a per-operator flag that returns
    // an unexecutable frame would audit a plan production never runs
    val sources = mainSources()
    val direct = sources.collect {
      case (f, text) if text.contains("localCheckpoint(") || text.contains(".checkpoint(") =>
        f.toString
    }
    assert(direct == Seq("src/main/scala/graft/Engine.scala"), direct)
    val flagged = sources.collect {
      case (f, text) if text.contains("checkpoint: Boolean") => f.toString
    }
    assert(flagged.isEmpty, flagged)
  }

  test("Tables is the one reader of a table stream, and streaming/ reads no parquet") {
    // one reader per table, batch or stream: a drain takes its stream and
    // its static side from Tables, so no second schema, footer probe or
    // file filter for a table can come back
    val sources = mainSources()
    def containing(s: String): Set[String] =
      sources.collect { case (f, text) if text.contains(s) => f.toString }.toSet
    assert(containing("readStream") == Set("src/main/scala/graft/Tables.scala"))
    // the other glob is the xlsx source's binaryFile listing, not a table
    assert(containing("pathGlobFilter") == Set(
      "src/main/scala/graft/Tables.scala", "src/main/scala/graft/sources/Xlsx.scala"))
    val streamingReads = sources.collect {
      case (f, text) if f.toString.contains("/streaming/") && text.contains("read.parquet") =>
        f.toString
    }
    assert(streamingReads.isEmpty, streamingReads)
  }

  test("only plans/shim.scala touches experimental strategies and rules") {
    // GraftExtensions is the one install list; the shim is the one place
    // that applies it to a session built without it
    val touching = mainSources().collect {
      case (f, text) if text.contains("extraStrategies") ||
          text.contains("extraOptimizations") => f.toString
    }
    assert(touching == Seq("src/main/scala/graft/plans/shim.scala"), touching)
  }

  test("jaro_winkler matches literature values and DuckDB edge semantics") {
    def jw(a: String, b: String): Double =
      spark.sql(s"SELECT jaro_winkler('$a', '$b') AS v").head().getDouble(0)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(jw("", "") == 0.0, "DuckDB semantics: empty input scores 0")
    assert(jw("abc", "") == 0.0)
    assert(jw("same", "same") == 1.0)
    assert(jw("abcd", "dcba") < 0.7, "no winkler bonus below the boost bar")
    // symmetric on real part names, interpreted == codegen'd path
    val pairs = tables.part.select("p_name").limit(20).collect().map(_.getString(0))
    pairs.sliding(2).foreach { case Array(a, b) =>
      val f = graft.functions.JaroWinklerImpl.jw(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      val g = graft.functions.JaroWinklerImpl.jw(
        org.apache.spark.unsafe.types.UTF8String.fromString(b),
        org.apache.spark.unsafe.types.UTF8String.fromString(a))
      assert(f == g, s"asymmetric jw for '$a' / '$b'")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("name blocking caps pathological blocks and keys on both tokens") {
    import spark.implicits._
    // block A: 3 rows under one (brand, w1, w2) key -> 3 pairs at cap>=3,
    // dropped whole at cap 2. block B: same brand+w1, DIFFERENT w2 -> never
    // pairs with A (the second token is part of the key). single-token
    // names: '' key keeps them pairable with each other.
    val part = Seq(
      (1L, "Brand#1", "alpha beta one"),
      (2L, "Brand#1", "alpha beta two"),
      (3L, "Brand#1", "alpha beta three"),
      (4L, "Brand#1", "alpha gamma one"),
      (5L, "Brand#1", "solo"),
      (6L, "Brand#1", "solo")
    ).toDF("p_partkey", "p_brand", "p_name")
    def pairs(cap: Int): Set[(Long, Long)] =
      graft.ext.Dedup.nameBlockPairsOf(part, cap)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unbounded = pairs(2000)
    assert(unbounded == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)),
      "two-token key must split the gamma row away; single-token rows pair")
    val capped = pairs(2)
    assert(capped == Set((5L, 6L)),
      "a block over the cap contributes NO pairs (dropped whole)")
    // bounded expansion: candidate count <= blocks * cap^2 / 2 by construction
    assert(capped.size <= 2 * 2 * 6 / 2)
  }

  test("jaro fuzzy names: every levenshtein<=1 block pair is also a jaro match") {
    import org.apache.spark.sql.functions._
    val lev = graft.ext.Dedup.qFuzzyNames(tables, maxDist = 1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jw = graft.ext.Dedup.qJaroNames(tables, minSim = 0.90)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lev.subsetOf(jw),
      "one-edit pairs on ~30-char names must score >= 0.90 jaro-winkler")
  }
}
