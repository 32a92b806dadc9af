package graft

import graft.load.Warehouse

/** Keyed upsert on the parquet warehouse: the atomic two-rename swap and
  * null-safe key matching that make a replayed batch a no-op.
  */
class WarehouseSpec extends SparkSuite {
  import spark.implicits._

  private def withWarehouse(prefix: String)(f: (Warehouse, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try f(Warehouse(spark, root.toString), root.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("keyed upsert replaces matching rows, keeps the rest, inserts new keys") {
    withWarehouse("graft_upsert") { (wh, root) =>
      wh.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "t", Seq("id"))
      assert(wh.tableCount("t") == 3L)
      // update key 2, insert key 4
      wh.upsert(Seq((2L, "B"), (4L, "d")).toDF("id", "v"), "t", Seq("id"))
      val got = wh.table("t").as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
      // idempotent replay of the same batch
      wh.upsert(Seq((2L, "B"), (4L, "d")).toDF("id", "v"), "t", Seq("id"))
      assert(wh.table("t").as[(Long, String)].collect().toMap == got)
      // no leftover staging directories after the atomic swap
      val left = new java.io.File(root).list().toSet
      assert(!left.exists(n => n.contains("__tmp") || n.contains("__old")), left)
    }
  }

  test("upsert with null-valued keys stays idempotent on replay") {
    withWarehouse("graft_upsert_null") { (wh, _) =>
      val batch = Seq((Some(1L), "a"), (None, "nk")).toDF("id", "v")
      wh.upsert(batch, "t", Seq("id"))
      wh.upsert(batch, "t", Seq("id")) // replay: null key must match null key
      val got = wh.table("t").as[(Option[Long], String)].collect().toSeq
      assert(got.sortBy(_._2) == Seq((Some(1L), "a"), (None, "nk")))
    }
  }
}
