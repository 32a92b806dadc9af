package graft

/** Cold/warm profiler for a single registered query: times N repeated
  * executions in one JVM (first = cold: Janino/JIT/footer costs; rest =
  * steady state) and optionally flips session confs between runs, so a
  * "slow" bench entry can be attributed to one-time compilation vs real
  * compute before any optimization work starts.
  *
  *   runMain graft.Profile <query> [sfDir] [conf=k:v,k:v]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val confs = args.drop(2).headOption.toSeq
      .flatMap(_.stripPrefix("conf=").split(",").toSeq)
      .map { kv => val Array(k, v) = kv.split(":", 2); k -> v }
    val spark = Engine.local()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // shuffle-volume meter: task-level write bytes summed per run, so a
    // plan change's exchange-volume claim can be MEASURED, not argued
    // from key widths (listener events are async; drained after a sleep)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events are async; a fixed sleep can cut off tail onTaskEnd
    // events on longer runs (they'd bleed into the NEXT run's counter).
    // The public API has no waitUntilEmpty, so drain by quiescence: poll
    // until the counter holds still across consecutive samples.
    def drainListenerBus(): Unit = {
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(200); waited += 200
        val v = shuffleBytes.get
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
    }
    val fn = SparkEntry.queries(name)
    (1 to 3).foreach { i =>
      shuffleBytes.set(0L)
      val t0 = System.nanoTime()
      // toRdd.count(): execute the FULL final plan. A bare df.count()
      // re-optimizes for the count — pruning every non-key output
      // expression and even eliminating distinct-keyed left joins — and
      // measures a plan the user never runs (found via this meter:
      // q_dup_spans "shuffled" 3 KiB under count vs its real exchanges)
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      drainListenerBus()
      println(f"[profile] $name run $i: $sec%.2f s ($n rows, " +
        f"${shuffleBytes.get / 1048576.0}%.3f MiB shuffled)")
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
