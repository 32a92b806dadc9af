package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** JVM-side harness self-test: the output fingerprint must not depend on
  * row order or partitioning, and must see a changed value. Prints one
  * `selftest ok|FAIL` line per check; `selftest.py` runs it.
  */
object SelfTest {
  def run(spark: SparkSession): Unit = {
    // nested and floating types, nulls, and doubles whose low bits depend
    // on the summation order of a 16-way aggregate
    val df = spark.range(0, 20000, 1, 16).select(
      col("id"),
      (col("id") % 97).as("k"),
      (col("id") / 7.0).as("d"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
      array(col("id"), col("id") * 2).as("arr"),
      map(lit("x"), col("id").cast("double") / 3.0).as("m"),
      struct(col("id").cast("float").as("f"), lit(1.5).cast("decimal(10,2)").as("dec")).as("st"))
    val agg = df.groupBy("k").agg(sum("d").as("sd"), count(lit(1)).as("n"))

    def check(name: String, ok: Boolean): Unit =
      println(s"selftest ${if (ok) "ok" else "FAIL"} $name")

    val base = Fingerprint.of(df)
    check("rows counted", base.rows == 20000L)
    check("repartition(1) == repartition(7)",
      Fingerprint.of(df.repartition(1)) == Fingerprint.of(df.repartition(7)))
    check("order-insensitive", Fingerprint.of(df.orderBy(col("id").desc)) == base)
    check("aggregate under different partitionings",
      Fingerprint.of(agg.repartition(1)) == Fingerprint.of(agg.repartition(5)))
    check("changed value changes hash",
      Fingerprint.of(df.withColumn("k", when(col("id") === 5, 1000).otherwise(col("k")))) != base)
    check("double rounding absorbs last-ulp noise",
      Fingerprint.roundedDouble(0.1 + 0.2, Fingerprint.DoubleDigits) ==
        Fingerprint.roundedDouble(0.3, Fingerprint.DoubleDigits))
  }
}
