package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic source generators, the Spark-native equivalent of
  * the reference's six seeded pandas generators
  * (reference: etl_pipeline.py:91-175).
  *
  * Instead of replaying a NumPy RNG stream (not reproducible and not
  * distributed), every generator is a pure function of `spark.range(n)`:
  * each pseudo-random draw is `xxhash64(id, salt)` folded into the target
  * domain. That keeps generation fully parallel (no driver-side data), seed-
  * stable across runs and partitionings, and scale-free — `n` can be 300 or
  * 3 billion and the work is evenly spread over executors.
  *
  * Each generator stamps a `source` lineage column like the reference
  * (etl_pipeline.py:102,116,130,144,159,174).
  */
object Generators {

  /** Anchor for the reference's rolling `datetime.now()` windows
    * (etl_pipeline.py:97,129,156,171) — pinned for determinism.
    */
  val AnchorDate = "2026-01-01"
  private val AnchorTs = "2026-01-01 00:00:00"

  private val Big = 1000000007L // prime modulus for the uniform fold

  /** Partition count scaled to n: small synthetic sources don't fan out to
    * the full default parallelism (32 near-empty tasks per stage), while a
    * billion-row run still spreads across the cluster.
    */
  private def slices(spark: SparkSession, n: Long): Int = {
    val byData = (n / 50000L) + 1
    math.min(math.max(1L, byData), spark.sparkContext.defaultParallelism.toLong).toInt
  }

  private def range(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[java.lang.Long] =
    spark.range(0, n, 1, slices(spark, n))

  /** Uniform [0,1) as a deterministic function of (id, salt). */
  private def u(salt: String): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(Big)).cast("double") / Big.toDouble

  /** randint(lo, hi) inclusive-exclusive like numpy. */
  private def randint(lo: Long, hi: Long, salt: String): Column =
    (u(salt) * (hi - lo)).cast("long") + lo

  /** uniform(lo, hi) rounded to `scale` decimals. */
  private def uniform(lo: Double, hi: Double, salt: String, scale: Int): Column =
    round(u(salt) * (hi - lo) + lo, scale)

  /** Uniform choice over a literal vocabulary. */
  private def choice(vals: Seq[String], salt: String): Column =
    element_at(array(vals.map(lit): _*), (u(salt) * vals.size).cast("int") + 1)

  /** Weighted choice: cumulative-probability `when` chain over u. */
  private def weighted(vals: Seq[(String, Double)], salt: String): Column = {
    val r = u(salt)
    val cum = vals.scanLeft(0.0)(_ + _._2).tail
    vals.zip(cum).foldLeft(lit(null).cast("string")) { case (acc, ((v, _), c)) =>
      when(r < c && acc.isNull, lit(v)).otherwise(acc)
    }
  }

  /** Sales CSV source (reference: etl_pipeline.py:91-103). */
  def sales(spark: SparkSession, n: Long = 1000): DataFrame =
    range(spark, n)
      .select(
        format_string("S%05d", col("id")).as("sale_id"),
        date_format(
          date_sub(lit(AnchorDate).cast("date"), pmod(col("id"), lit(90)).cast("int")),
          "yyyy-MM-dd").as("date"),
        choice(Seq("North", "South", "East", "West"), "s_region").as("region"),
        choice(Seq("A", "B", "C", "D"), "s_product").as("product"),
        uniform(1000, 100000, "s_revenue", 2).as("revenue"),
        randint(1, 101, "s_units").as("units"),
        lit("CSV_SALES").as("source"))

  /** Customer JSON source with ~5% null emails
    * (reference: etl_pipeline.py:105-117).
    */
  def customers(spark: SparkSession, n: Long = 800): DataFrame =
    range(spark, n)
      .select(
        format_string("C%05d", col("id")).as("customer_id"),
        concat(lit("Customer_"), col("id")).as("name"),
        when(u("c_nullmail") < 0.05, lit(null).cast("string"))
          .otherwise(concat(lit("c"), col("id"), lit("@mail.com")))
          .as("email"),
        choice(Seq("Premium", "Standard", "Basic"), "c_segment").as("segment"),
        randint(1, 1001, "c_tenure").as("tenure_days"),
        round(u("c_churn"), 3).as("churn_risk"),
        lit("JSON_API").as("source"))

  /** Finance DB source (reference: etl_pipeline.py:119-131). */
  def finance(spark: SparkSession, n: Long = 600): DataFrame =
    range(spark, n)
      .select(
        format_string("TXN%06d", col("id")).as("txn_id"),
        concat(lit("ACC"), randint(1000, 10000, "f_acc")).as("account"),
        uniform(0, 50000, "f_debit", 2).as("debit"),
        uniform(0, 50000, "f_credit", 2).as("credit"),
        uniform(10000, 500000, "f_balance", 2).as("balance"),
        date_format(
          date_sub(lit(AnchorDate).cast("date"), pmod(col("id"), lit(60)).cast("int")),
          "yyyy-MM-dd").as("txn_date"),
        lit("SQL_FINANCE").as("source"))

  /** Inventory Excel source (reference: etl_pipeline.py:133-145). */
  def inventory(spark: SparkSession, n: Long = 400): DataFrame =
    range(spark, n)
      .select(
        format_string("SKU-%04d", col("id")).as("sku"),
        concat(lit("Product_"), chr(pmod(col("id"), lit(26)) + 65)).as("product"),
        randint(0, 5001, "i_qty").as("quantity"),
        choice(Seq("WH-North", "WH-South", "WH-East"), "i_wh").as("warehouse"),
        randint(50, 501, "i_reorder").as("reorder_pt"),
        uniform(10, 1000, "i_cost", 2).as("unit_cost"),
        lit("EXCEL_INVENTORY").as("source"))

  /** HR flat-file source (reference: etl_pipeline.py:147-160). */
  def hr(spark: SparkSession, n: Long = 300): DataFrame =
    range(spark, n)
      .select(
        format_string("EMP%04d", col("id")).as("emp_id"),
        choice(Seq("Analytics", "Engineering", "Finance", "Sales", "Operations"), "h_dept")
          .as("department"),
        round(uniform(25000, 200000, "h_salary", 2), 0).as("salary"),
        date_format(
          date_sub(lit(AnchorDate).cast("date"), randint(30, 3651, "h_join").cast("int")),
          "yyyy-MM-dd").as("join_date"),
        randint(1, 6, "h_rating").as("rating"),
        (u("h_active") < 0.9).as("active"),
        lit("FLAT_FILE_HR").as("source"))

  /** Web-log source, 30 s descending spacing
    * (reference: etl_pipeline.py:162-175).
    */
  def webLogs(spark: SparkSession, n: Long = 2000): DataFrame =
    range(spark, n)
      .select(
        format_string("EVT%07d", col("id")).as("event_id"),
        concat(lit("U"), randint(1000, 10000, "w_user")).as("user_id"),
        choice(Seq("page_view", "click", "purchase", "login", "logout", "search"), "w_type")
          .as("event_type"),
        date_format(
          lit(AnchorTs).cast("timestamp") - expr("make_interval(0, 0, 0, 0, 0, 0, id * 30)"),
          "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        concat(lit("SES"), randint(10000, 100000, "w_sess")).as("session_id"),
        weighted(Seq("mobile" -> 0.55, "desktop" -> 0.35, "tablet" -> 0.10), "w_dev")
          .as("device"),
        lit("WEB_LOGS").as("source"))

  /** One PARENT landing directory per JVM (cleaned on exit), one unique
    * subdirectory per call: rewriting a shared workbook in place would
    * race a concurrent run's lazy read (binaryFile re-lists/re-reads on
    * recompute); per-call isolation keeps that impossible while exit
    * cleanup still bounds the driver-local footprint (one ~tiny workbook
    * per pipeline run in the JVM's lifetime).
    */
  private lazy val xlsxLandingRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_xlsx_land")
    d.toFile.deleteOnExit()
    d
  }
  private val xlsxLandingSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The Excel source extracts through a REAL .xlsx landing: the generator
    * exports a workbook ([[Xlsx.write]]), and the pipeline reads it back
    * through the distributed xlsx reader with the dtype coercion pandas'
    * read_excel would apply (reference etl_pipeline.py:133-145). Row
    * values and counts are identical to the direct frame — numbers
    * roundtrip through their shortest decimal representation.
    */
  def inventoryViaXlsx(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createDirectory(
      xlsxLandingRoot.resolve(s"run_${xlsxLandingSeq.incrementAndGet()}"))
    dir.toFile.deleteOnExit()
    dir.resolve("inventory.xlsx").toFile.deleteOnExit()
    Xlsx.write(inventory(spark), dir.resolve("inventory.xlsx").toString)
    Xlsx.read(spark, dir.toString)
      .select(
        col("sku"), col("product"),
        col("quantity").cast("long").as("quantity"),
        col("warehouse"),
        col("reorder_pt").cast("long").as("reorder_pt"),
        col("unit_cost").cast("double").as("unit_cost"),
        col("source"))
  }

  /** The reference's fixed source list (etl_pipeline.py:299-306):
    * (source_name, generator, warehouse_table, transform_name).
    */
  def registry: Seq[(String, SparkSession => DataFrame, String, String)] = Seq(
    ("sales_csv", sales(_: SparkSession), "fact_sales", "sales"),
    ("customer_json", customers(_: SparkSession), "dim_customers", "customers"),
    ("finance_db", finance(_: SparkSession), "fact_finance", "finance"),
    ("inventory_excel", inventoryViaXlsx(_: SparkSession), "dim_inventory", ""),
    ("hr_flat_file", hr(_: SparkSession), "dim_employees", ""),
    ("web_logs", webLogs(_: SparkSession), "fact_web_events", ""))
}
