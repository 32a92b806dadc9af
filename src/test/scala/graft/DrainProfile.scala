package graft

import org.apache.spark.sql.streaming.Trigger

/** Ad-hoc profiling harness for streaming-drain latency (not a test):
  * `Test/runMain graft.DrainProfile [sfDir]` prints where a drain's
  * wall-clock goes — query start and per-batch durations —
  * so per-drain overhead work is measured, not guessed.
  */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Engine.local(32)
    val tables = Tables(spark, dir)
    spark.sparkContext.setLogLevel("ERROR")
    def t(n: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    // warm one drain so JIT/codegen cost is excluded from the breakdown
    t("tumbling_cold") {
      streaming.Streams.drainTumblingCounts(tables).count()
    }
    t("tumbling_warm") {
      streaming.Streams.drainTumblingCounts(tables).count()
    }
    t("sliding") {
      streaming.Streams.drainSlidingCounts(tables).count()
    }
    t("distinct_users") {
      streaming.Streams.drainDistinctUsers(tables).count()
    }
    val agg = streaming.Streams.tumblingCounts(tables.stream("events"))
    val q0 = System.nanoTime()
    val q = agg.writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("prof1").start()
    println(f"start()                      ${(System.nanoTime() - q0) / 1e9}%6.2f s")
    q.awaitTermination(600000L)
    println(f"await_total                  ${(System.nanoTime() - q0) / 1e9}%6.2f s")
    q.recentProgress.foreach { p =>
      println(s"batch ${p.batchId} durationMs=${p.durationMs}")
    }
    // minimal pure-Spark streaming agg — is ~2 s/drain irreducible
    // Structured Streaming latency or graft-machinery overhead?
    import org.apache.spark.sql.functions._
    def minimal(tag: String, parts: String): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val t0 = System.nanoTime()
      val mq = tables.stream("events").groupBy(col("event_type")).count()
        .writeStream.outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .format("memory").queryName(s"min_$tag").start()
      mq.awaitTermination(600000L)
      println(f"minimal_$tag%-20s ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        mq.recentProgress.map(p => p.durationMs.toString).mkString(" "))
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    minimal("p8_a", "8"); minimal("p8_b", "8")
    minimal("p1", "1"); minimal("p32", "32")
    spark.stop()
  }
}
