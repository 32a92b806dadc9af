package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's table corpus: the ten tables the registry queries read
  * (region, nation, customer, supplier, part, orders, lineitem, events,
  * documents, embeddings), about the size of the sf0.1 fixtures, with
  * log-uniform (Zipf-1) foreign keys. It is the construction of
  * `graft.GenSf1` at scale 1, kept here so that the benchmark's inputs
  * cannot change when the program's own generators do. Every value is a
  * pure hash of (table, row id), so the corpus is bit-reproducible, and
  * the queries' DuckDB oracles (`tools/check.py`) replay on it.
  */
object Corpus {

  /** Multiplier on the sf0.1 row counts; the expected fingerprints in
    * `perfbench/expected.json` were recorded at this scale.
    */
  val scale = 1

  /** Uniform [0,1) from a salted per-row hash. */
  private def u(salt: String, cols: Column*): Column =
    (xxhash64((lit(salt) +: cols): _*).bitwiseAND(lit(Long.MaxValue)))
      .cast("double") / lit(Long.MaxValue.toDouble)

  /** Log-uniform (continuous Zipf-1) rank in [0, n): density ∝ 1/(k+1).
    * exp(u·ln(n)) ∈ [1, n) → floor − ... mapped to 0-based ranks.
    */
  private def zipf(n: Long, salt: String, cols: Column*): Column =
    least(floor(exp(u(salt, cols: _*) * math.log(n.toDouble))) - 1,
      lit(n - 1)).cast("long")

  private def pick(c: Column, opts: Seq[String]): Column =
    opts.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, i)) => when(c === i, lit(v)).otherwise(acc)
    }

  def write(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val nCust = 15000L * scale
    val nSupp = 1000L * scale
    val nPart = 20000L * scale
    val nOrd = 150000L * scale
    val nEvt = 100000L * scale
    val nDoc = 5000L * scale
    val nVec = 5000L * scale

    def ids(n: Long, parts: Int = 32): DataFrame =
      spark.range(0, n, 1, parts).toDF("id")

    // single-FILE tables, the layout of the sf0.1 fixtures
    // (`<dir>/<table>.parquet` is a file, not a directory): tools/check.py
    // and DuckDB read_parquet expect it, and a single parquet file is
    // still scan-parallel (Spark splits it by row group /
    // maxPartitionBytes)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val dest = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }

    // dims: the same tiny region/nation as the sf0.1 fixtures
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(regions.zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region")
    write(ids(25, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("Nation#"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")), "nation")

    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    write(ids(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(lit("cn"), col("id")), lit(25)).cast("int")
        .as("c_nationkey"),
      round(u("cb", col("id")) * 11000 - 1000, 2).as("c_acctbal"),
      pick(pmod(xxhash64(lit("cs"), col("id")), lit(5)), segs)
        .as("c_mktsegment")), "customer")

    write(ids(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(lit("sn"), col("id")), lit(25)).cast("int")
        .as("s_nationkey"),
      round(u("sb", col("id")) * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    val pAdj = Seq("large", "hot", "small", "dim", "plated", "smooth",
      "fresh", "dark", "spring", "misty")
    val pNoun = Seq("ring", "bolt", "case", "drum", "wheel", "panel",
      "frame", "clip", "rod", "gear")
    val pTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD")
    write(ids(nPart).select(
      col("id").as("p_partkey"),
      concat(
        pick(pmod(xxhash64(lit("pa"), col("id")), lit(10)), pAdj), lit(" "),
        pick(pmod(xxhash64(lit("pn"), col("id")), lit(10)), pNoun))
        .as("p_name"),
      concat(lit("Brand#"),
        pmod(xxhash64(lit("pb"), col("id")), lit(25))).as("p_brand"),
      pick(pmod(xxhash64(lit("pt"), col("id")), lit(6)), pTypes)
        .as("p_type"),
      (pmod(xxhash64(lit("ps"), col("id")), lit(50)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + u("pp", col("id")) * 100.0, 2)
        .as("p_retailprice")), "part")

    // orders: LOG-UNIFORM custkey — the hot-customer skew the uniform
    // sf0.1 fixtures never exercise. Dates span the fixtures' window.
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val baseDate = lit("1995-01-01").cast("date")
    val orderDay = pmod(xxhash64(lit("od"), col("id")), lit(2404))
    write(ids(nOrd).select(
      col("id").as("o_orderkey"),
      zipf(nCust, "oc", col("id")).as("o_custkey"),
      pick(pmod(xxhash64(lit("os"), col("id")), lit(3)),
        Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + u("op", col("id")) * 499000.0, 2)
        .as("o_totalprice"),
      date_add(baseDate, orderDay.cast("int")).cast("timestamp_ntz")
        .as("o_orderdate"),
      pick(pmod(xxhash64(lit("opr"), col("id")), lit(5)), prios)
        .as("o_orderpriority")), "orders")

    // lineitem: 1..7 lines per order (avg ~4 -> ~6M rows at scale 10);
    // partkey/suppkey LOG-UNIFORM (hot parts/suppliers); shipdate =
    // orderdate + 1..95 days, reproduced from the same orderkey hash so
    // no join is needed at generation time
    val nl = (pmod(xxhash64(lit("nl"), col("id")), lit(7)) + 1).cast("int")
    val li = ids(nOrd)
      .select(col("id"), explode(sequence(lit(1), nl)).as("l_linenumber"))
    val lq = (pmod(xxhash64(lit("lq"), col("id"), col("l_linenumber")),
      lit(50)) + 1).cast("double")
    write(li.select(
      col("id").as("l_orderkey"),
      zipf(nPart, "lp", col("id"), col("l_linenumber")).as("l_partkey"),
      zipf(nSupp, "ls", col("id"), col("l_linenumber")).as("l_suppkey"),
      col("l_linenumber").cast("int"),
      lq.as("l_quantity"),
      round(lq * (lit(900.0) +
        u("lep", col("id"), col("l_linenumber")) * 1200.0), 2)
        .as("l_extendedprice"),
      (pmod(xxhash64(lit("ld"), col("id"), col("l_linenumber")),
        lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(lit("lt"), col("id"), col("l_linenumber")),
        lit(9)).cast("double") / 100.0).as("l_tax"),
      pick(pmod(xxhash64(lit("lr"), col("id"), col("l_linenumber")),
        lit(3)), Seq("A", "N", "R")).as("l_returnflag"),
      pick(pmod(xxhash64(lit("ll"), col("id"), col("l_linenumber")),
        lit(2)), Seq("F", "O")).as("l_linestatus"),
      date_add(date_add(baseDate, orderDay.cast("int")),
        (pmod(xxhash64(lit("lsd"), col("id"), col("l_linenumber")),
          lit(95)) + 1).cast("int")).cast("timestamp_ntz")
        .as("l_shipdate")), "lineitem")

    // events: 30 days, LOG-UNIFORM user skew (hot users), exp-ish value
    val types = Seq("signup", "purchase", "view", "click", "error")
    val evU = u("ev", col("id"))
    write(ids(nEvt).select(
      col("id").as("event_id"),
      (lit(1704067200000000L) + // 2024-01-01T00:00:00Z in epoch micros
        (u("ets", col("id")) * lit(30.0 * 86400 * 1000000)).cast("long"))
        .as("ts_us"),
      zipf(15000L * scale / 10, "eu", col("id")).as("user_id"),
      pick(pmod(xxhash64(lit("ety"), col("id")), lit(5)), types)
        .as("event_type"),
      round(-log(lit(1.0) - evU * lit(0.9999)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(lit("epr"), col("id")), lit(100)), lit("}"))
        .as("props"))
      .withColumn("ts",
        timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")

    // documents: Zipf-3000 vocabulary, 30..100 words, planted dup
    // structure by doc_id mod 20 — slot 1 is a near-dup of slot 0
    // (every 10th token replaced by per-doc junk), slot 2 an exact dup
    // of slot 0; all other slots are fresh anchors
    val m = pmod(col("id"), lit(20))
    val anchor = when(m === 1, col("id") - 1)
      .when(m === 2, col("id") - 2).otherwise(col("id"))
    val docLen = (pmod(xxhash64(lit("dl"), anchor), lit(71)) + 30)
      .cast("int")
    val baseWords = transform(sequence(lit(1), docLen),
      i => concat(lit("w"),
        least(floor(exp(
          (xxhash64(lit("dw"), anchor, i).bitwiseAND(lit(Long.MaxValue)))
            .cast("double") / lit(Long.MaxValue.toDouble)
            * math.log(3000.0))) - 1, lit(2999L)).cast("long")))
    // near-dup = ONE interior word replaced, and only for docs of ≥80
    // words: a single replaced word kills ≤3 of the L−2 3-grams, so the
    // planted pair's jaccard is (L−5)/(L+1) ≥ 0.926 — above the 0.7
    // threshold with an 8×4-banding miss probability ≤ 2.4e-5 per pair,
    // keeping the q_dedup_minhash FULL-RECALL oracle sound on this
    // corpus by construction (a heavier mutation would plant
    // threshold-adjacent pairs and legitimately re-open its rows-only
    // status — that regime is the ADVERSARIAL stress leg's job, not the
    // oracle corpus'). Shorter slot-1 docs fall back to exact copies.
    val mutPos = pmod(xxhash64(lit("mp"), col("id")), docLen - 10) + 5
    val mutated = when(docLen >= 80,
      transform(sequence(lit(1), docLen),
        i => when(i === mutPos, concat(lit("j"), col("id")))
          .otherwise(element_at(baseWords, i))))
      .otherwise(baseWords)
    val langs = Seq("en", "en", "en", "en", "es", "es", "fr", "fr", "de",
      "zh")
    write(ids(nDoc).select(
      col("id").as("doc_id"),
      array_join(when(m === 1, mutated).otherwise(baseWords), " ")
        .as("text"),
      pick(pmod(xxhash64(lit("dlg"), anchor), lit(10)), langs).as("lang"),
      concat(lit("src"), pmod(xxhash64(lit("dsrc"), col("id")), lit(20)))
        .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 64-dim float around 10 integer-lattice centroids with
    // Zipf-skewed labels (hot cells); values in [0, ~1.2)
    val label = zipf(10, "el", col("id"))
    val emb = transform(sequence(lit(0), lit(63)),
      d => ((pmod(xxhash64(lit("ec"), label, d), lit(1000)).cast("double")
        / 1000.0) +
        (pmod(xxhash64(lit("en2"), col("id"), d), lit(1000)).cast("double")
          / 5000.0)).cast("float"))
    write(ids(nVec).select(
      col("id").as("vec_id"),
      emb.as("embedding"),
      label.cast("int").as("label")), "embeddings")

  }
}
