package graft.load

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DateType, TimestampNTZType, TimestampType}

import scala.util.Try

/** Warehouse writer (reference: etl_pipeline.py:228-245, 271-276).
  *
  * The reference writes to SQLite with `if_exists="replace"` for data tables
  * and `"append"` for health metrics; our warehouse is partition-friendly
  * parquet under a directory root, which is what a 100 TB deployment would
  * use (object storage + a table format). Load-time coercions mirror the
  * reference's dtype-driven ones (:271-274) but are opt-in, since parquet
  * keeps native date/bool types.
  */
final case class Warehouse(spark: SparkSession, root: String) {

  def path(table: String): String = s"$root/$table"

  /** Reference load-time coercions (etl_pipeline.py:271-274):
    * datetime -> "yyyy-MM-dd HH:mm:ss" string (dates -> "yyyy-MM-dd"),
    * bool -> int 0/1. Column selection is dtype-driven like the reference.
    */
  def coerceForLoad(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case DateType => d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
        case TimestampType | TimestampNTZType =>
          d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"))
        case BooleanType => d.withColumn(f.name, col(f.name).cast("int"))
        case _ => d
      }
    }

  /** `if_exists="replace"` / `"append"` equivalents. Writes stay parallel —
    * no coalesce(1); partition count is whatever the upstream plan produced
    * (AQE-coalesced). `format` covers the columnar formats Spark ships
    * (parquet default, orc the drop-in alternative).
    */
  def load(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite,
      format: String = "parquet"): Unit =
    df.write.mode(mode).format(format).save(path(table))

  def loadPartitioned(df: DataFrame, table: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path(table))

  def table(name: String, format: String = "parquet"): DataFrame =
    spark.read.format(format).load(path(name))

  /** Keyed upsert ("merge"): rows in `df` replace same-key rows in the
    * table, other existing rows are kept. On bare parquet this is
    * read + anti-join + union + rewrite (what a table format's MERGE does
    * under the hood, minus the transaction log). The merged output is
    * written ONCE, next to the table, then swapped into place with
    * filesystem renames — metadata operations, so the data never moves
    * twice and the previous table files survive (as `__old`) until the
    * swap has fully succeeded. First write degenerates to a plain load.
    *
    * Key matching is null-safe (`<=>`): a replayed batch whose keys contain
    * nulls still dedupes against the existing rows — plain equality never
    * matches null keys and would duplicate them on every replay, breaking
    * idempotency.
    */
  def upsert(df: DataFrame, tableName: String, keys: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path(tableName))
    val tmp = new org.apache.hadoop.fs.Path(path(tableName) + "__tmp")
    val old = new org.apache.hadoop.fs.Path(path(tableName) + "__old")
    // crash recovery: a previous upsert that died between its two renames
    // left the table staged at __old; restore it BEFORE the missing-table
    // check, or the fallback below would silently reload only the new
    // batch and orphan every pre-existing row
    if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
      // an ignored failure here would fall into the missing-table branch
      // below and silently reload only the new batch
      throw new java.io.IOException(s"upsert: could not recover $old to $dst")
    // probe existence on the FILESYSTEM, not by reading the table: a
    // read of a missing path throws FileNotFoundException, and when this
    // runs inside a foreachBatch stream thread Spark prints that stack
    // trace to stderr (the r5 bench-tail noise) even though Try absorbs it
    if (!fs.exists(dst)) { load(df, tableName); return }
    val existing = table(tableName)
    val incoming = df.select(keys.map(col): _*).dropDuplicates(keys)
    val cond = keys.map(k => existing(k) <=> incoming(k)).reduce(_ && _)
    val kept = existing.join(incoming, cond, "left_anti")
    val merged = kept.unionByName(df)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapInto(fs, dst, tmp, old)
  }

  /** Atomically replace `dst` with `tmp` via two renames, staging the old
    * table at `oldP` so a crash at any point leaves a recoverable state
    * (see the recovery branch in [[upsert]]).
    */
  private def swapInto(
      fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path,
      oldP: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(oldP, true)
    if (!fs.rename(dst, oldP))
      throw new java.io.IOException(s"swap: could not stage $dst aside")
    if (!fs.rename(tmp, dst)) {
      fs.rename(oldP, dst) // roll back: restore the previous table
      throw new java.io.IOException(s"swap: could not move $tmp into place")
    }
    fs.delete(oldP, true)
  }

  /** Missing table -> 0, like the reference's bare-except readback
    * (etl_pipeline.py:238-242). Existence is a filesystem probe (a
    * read-probe of a missing path makes Spark print the
    * FileNotFoundException trace to stderr before Try absorbs it); the
    * Try still guards corrupt/half-written directories.
    */
  def tableCount(name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else Try(table(name).count()).getOrElse(0L)
  }
}
