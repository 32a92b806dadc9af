package perfbench

import graft.{Engine, SparkEntry}
import graft.load.Warehouse
import graft.model.{PipelineMetric, PipelineRun, PipelineStatus}
import graft.orchestrate.Orchestrator
import graft.sources.Generators

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark process: one workload, one client thread, operations run
  * one at a time on `local[cores]` (a closed loop).
  *
  * A run is a cold pass in the fresh JVM, then `warmup` warm-up passes
  * while the JIT still compiles the hot paths, then `warm` measured warm
  * passes; every warm pass follows `Engine.resetDataCaches()` (no new pass
  * starts after [[Harness.MaxSeconds]]).
  * The seed shuffles the operation order of every pass. With `traced=1`
  * measured passes alternate between traced (listeners on, spans kept, bus
  * drained after each operation) and untraced, so the same process also
  * measures the tracing overhead.
  *
  * Prints `PERFBENCH_READY` once the session is built and tuned, and writes
  * every measurement to `out`; `run.py` turns that into metrics and checks
  * outputs against the expected fingerprints.
  *
  *   perfbench.Harness kind=queries|etl ops=a,b,c seed=1 warmup=2 warm=4 traced=0
  *     cores=4 data=<dir> work=<dir> out=<file> etlScale=60
  *
  * `kind=setup` only builds the session; `kind=corpus` writes the table
  * corpus to `out`; `kind=selftest` runs [[SelfTest]]; `kind=fingerprint`
  * prints the fingerprints of the stored outputs `data/<op>`.
  */
object Harness {

  /** Keeps a run inside the benchmark's per-run limit. */
  val MaxSeconds = 120.0

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.tune(spark)
    val t2 = System.nanoTime()
    println("PERFBENCH_READY")
    System.out.flush()
    a("kind") match {
      // a setup sample ends here; halting skips the shutdown work, which is
      // not part of set-up and would only lengthen the run
      case "setup" => Runtime.getRuntime.halt(0)
      case "corpus" => try Corpus.write(spark, a("out")) finally spark.stop(); return
      case "selftest" => try SelfTest.run(spark) finally spark.stop(); return
      case "fingerprint" =>
        // fingerprints of stored query outputs (`graft.Verify` parquet)
        try a("ops").split(",").foreach { name =>
          println(s"fp $name ${Fingerprint.of(spark.read.parquet(s"${a("data")}/$name"))}")
        } finally spark.stop()
        return
      case _ =>
    }

    val h = new Harness(spark, a)
    // an operation's own failure is recorded by the harness; anything that
    // escapes it ends the process at once, without a result file
    val result =
      try h.run()
      catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1); Nil }
    val json = Json.obj(
      "session_s" -> (t1 - t0) / 1e9,
      "tune_s" -> (t2 - t1) / 1e9,
      "passes" -> result,
      "live_rdds_max" -> h.liveRddsMax,
      "storage_mb_max" -> h.storageMbMax,
      "rss_peak_mb" -> peakRssMb())
    val out = java.nio.file.Paths.get(a("out"))
    java.nio.file.Files.writeString(out, json)
    if (h.trace != null)
      java.nio.file.Files.writeString(
        out.resolveSibling(out.getFileName.toString + ".trace"), h.trace.toJson)
    // everything is measured and written; skip the session's shutdown work
    // (run.py deletes the run's work directory)
    Runtime.getRuntime.halt(0)
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

final class Harness(spark: SparkSession, a: Map[String, String]) {

  private val kind = a("kind")
  private val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
  private val traced = a("traced") == "1"
  private val data = a("data")
  private val work = a("work")
  private val warmup = a.get("warmup").fold(0)(_.toInt)
  private val warm = a("warm").toInt
  private val rng = new scala.util.Random(a("seed").toLong)

  val trace: Trace = if (traced) new Trace(spark) else null
  private val clock = if (trace != null) trace else new Trace(spark)
  var liveRddsMax = 0
  var storageMbMax = 0.0

  private lazy val registry = SparkEntry.queries

  // etl_pipeline: the six reference sources at `etlScale` times their
  // default row counts; the Excel source keeps its 400-row xlsx landing
  private lazy val etlScale = a("etlScale").toLong
  private lazy val warehouse = Warehouse(spark, s"$work/warehouse")
  private lazy val orchestrator = new Orchestrator(spark, warehouse)
  private lazy val sources: Map[String, (SparkSession => DataFrame, String, String)] = {
    val scaled: Map[String, SparkSession => DataFrame] = Map(
      "sales_csv" -> (s => Generators.sales(s, 1000L * etlScale)),
      "customer_json" -> (s => Generators.customers(s, 800L * etlScale)),
      "finance_db" -> (s => Generators.finance(s, 600L * etlScale)),
      "hr_flat_file" -> (s => Generators.hr(s, 300L * etlScale)),
      "web_logs" -> (s => Generators.webLogs(s, 2000L * etlScale)))
    Generators.registry.map { case (name, fn, table, transform) =>
      name -> ((scaled.getOrElse(name, fn), table, transform))
    }.toMap
  }

  private def elapsed(since: Long): Double = (System.nanoTime() - since) / 1e9

  def run(): Seq[Map[String, Any]] = {
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    passes += pass(0, warm = false, warmup = false, tracedPass = false)
    var n = 0
    while (n < warmup + warm && elapsed(start) < Harness.MaxSeconds) {
      n += 1
      val measured = n - warmup
      // the cold and warm-up passes leave methods queued for compilation;
      // let the JIT work through them before the next pass, not during it
      val jitWait = if (measured <= 1) awaitJitQuiet() else 0.0
      // traced runs alternate traced / untraced measured passes, traced first
      passes += pass(n, warm = true, warmup = measured <= 0,
        tracedPass = traced && measured > 0 && measured % 2 == 1) + ("jit_wait_s" -> jitWait)
    }
    passes.toSeq
  }

  /** Waits, untimed, until the JIT compilers have been idle for a moment
    * (their total compilation time stopped rising), at most `capS` seconds;
    * returns the seconds waited.
    */
  private def awaitJitQuiet(capS: Double = 10.0): Double = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && elapsed(t0) < capS) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last <= 2) quiet + 1 else 0
      last = now
    }
    elapsed(t0)
  }

  private def pass(idx: Int, warm: Boolean, warmup: Boolean,
      tracedPass: Boolean): Map[String, Any] = {
    var resetS = 0.0
    if (warm) {
      val r0 = System.nanoTime()
      Engine.resetDataCaches()
      resetS = elapsed(r0)
    }
    if (tracedPass) trace.start()
    val order = rng.shuffle(ops)
    val t0 = clock.now()
    val body: Map[String, Any] =
      if (tracedPass) trace.span(-1, "pass", s"pass$idx")(id => passBody(idx, order, id, true))
      else passBody(idx, order, -1, false)
    val wall = (clock.now() - t0) / 1000.0 - body("check_s").asInstanceOf[Double]
    if (tracedPass) trace.stop()
    // live heap: what the pass left reachable (cached frames, checkpoints
    // not yet freed), measured after a full collection outside the timing
    val heapMb =
      if (warm) {
        System.gc()
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      } else Double.NaN
    body ++ Map(
      "idx" -> idx, "warm" -> warm, "warmup" -> warmup, "traced" -> tracedPass, "wall_s" -> wall,
      "reset_s" -> resetS, "heap_after_mb" -> heapMb)
  }

  private def passBody(idx: Int, order: Seq[String], parent: Int,
      tracedPass: Boolean): Map[String, Any] =
    if (kind == "etl") etlPass(idx, order, parent, tracedPass)
    else Map("ops" -> order.map(op(_, parent, tracedPass)), "check_s" -> 0.0)

  private def timed[T](parent: Int, tracedPass: Boolean, layer: String, name: String)(
      body: => T): (T, Double) = {
    val t0 = clock.now()
    val v = if (tracedPass) trace.span(parent, layer, name)(_ => body) else body
    (v, (clock.now() - t0) / 1000.0)
  }

  /** After a traced operation: let the listener buses deliver what it
    * caused, then sample the engine's cached-data footprint.
    */
  private def closeTraced(): Unit = {
    trace.drain()
    val sc = spark.sparkContext
    liveRddsMax = math.max(liveRddsMax, sc.getPersistentRDDs.size)
    storageMbMax = math.max(storageMbMax,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** One query or drain: construct, plan, then execute the full final plan
    * while fingerprinting its rows. Failures are recorded, not thrown.
    */
  private def op(name: String, parent: Int, tracedPass: Boolean): Map[String, Any] = {
    val t0 = clock.now()
    var phases = Map.empty[String, Double]
    var fp: String = null
    var err: String = null
    def body(id: Int): Unit = registry.get(name) match {
      case None => err = "not in SparkEntry.queries"
      case Some(fn) =>
        try {
          val (df, c) = timed(id, tracedPass, "construct", name)(fn(spark, data))
          val (_, p) = timed(id, tracedPass, "plan", name)(df.queryExecution.executedPlan)
          val (f, e) = timed(id, tracedPass, "exec", name)(Fingerprint.of(df))
          phases = Map("construct_s" -> c, "plan_s" -> p, "exec_s" -> e)
          fp = f.toString
        } catch {
          case NonFatal(ex) => err = s"${ex.getClass.getName}: ${ex.getMessage}".take(300)
        }
    }
    if (tracedPass) trace.span(parent, "op", name)(body) else body(-1)
    val wall = (clock.now() - t0) / 1000.0
    if (tracedPass) closeTraced()
    Map("name" -> name, "wall_s" -> wall, "fp" -> fp, "error" -> err) ++ phases
  }

  // parquet footer row counts by file path, for the read-back checks
  private val footerRows = scala.collection.mutable.Map.empty[String, Long]

  /** One pipeline run: every source through `Orchestrator.runSource` in the
    * seeded order, then `saveHealthMetrics`. Read-back checks run after the
    * timed work and are subtracted from the pass time.
    */
  private def etlPass(idx: Int, order: Seq[String], parent: Int,
      tracedPass: Boolean): Map[String, Any] = {
    val runId = s"bench_run_$idx"
    val runStart = System.currentTimeMillis()
    val results = order.map { name =>
      val t0 = clock.now()
      var err: String = null
      var metric: PipelineMetric = null
      def body(id: Int): Unit = {
        sources.get(name) match {
          case None => err = "not in Generators.registry"
          case Some((fn, table, transform)) =>
            metric = orchestrator.runSource(name, fn, table, transform, runId)
            if (metric.status != PipelineStatus.Success.name)
              err = metric.errorMessage.getOrElse(metric.status)
        }
      }
      if (tracedPass) trace.span(parent, "orchestrate", name)(body) else body(-1)
      val wall = (clock.now() - t0) / 1000.0
      if (tracedPass) closeTraced()
      (name, wall, metric, err)
    }
    val metrics = results.flatMap(r => Option(r._3)).toList
    val run = PipelineRun(runId, runStart, System.currentTimeMillis(), metrics,
      metrics.map(_.recordsOut).sum,
      if (metrics.forall(_.status == PipelineStatus.Success.name)) PipelineStatus.Success.name
      else PipelineStatus.Failed.name)
    val (healthErr, healthS) = timed(parent, tracedPass, "orchestrate", "health") {
      try { orchestrator.saveHealthMetrics(run); null }
      catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}".take(300) }
    }
    if (tracedPass) closeTraced()

    // untimed output checks
    val c0 = System.nanoTime()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def files(table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(warehouse.path(table))
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.startsWith("part-")
        && s.getPath.getName.endsWith(".parquet"))
    }
    // read-back: the row counts in the written files' parquet footers; a
    // file already read in an earlier pass (appended health rows) is not
    // opened again
    def readBack(table: String): Long =
      try files(table).map { f =>
        footerRows.getOrElseUpdate(f.getPath.toString, {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
              f, spark.sparkContext.hadoopConfiguration))
          try r.getRecordCount finally r.close()
        })
      }.sum
      catch { case NonFatal(_) => -1L }
    val sourceRows = results.map { case (name, wall, m, err) =>
      val table = sources.get(name).map(_._2).orNull
      val out = if (table == null) Nil else files(table)
      Map[String, Any](
        "name" -> name, "wall_s" -> wall, "error" -> err,
        "status" -> Option(m).map(_.status).orNull,
        "records_in" -> Option(m).map(_.recordsIn).getOrElse(-1L),
        "records_out" -> Option(m).map(_.recordsOut).getOrElse(-1L),
        "read_back" -> (if (table == null) -1L else readBack(table)),
        "files" -> out.size,
        "bytes" -> out.map(_.getLen).sum)
    }
    val healthRows = readBack("pipeline_health")
    Map(
      "ops" -> sourceRows,
      "health_s" -> healthS, "health_error" -> healthErr, "health_rows" -> healthRows,
      "check_s" -> elapsed(c0))
  }
}
