package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** In-memory trace of one benchmark process: spans the harness opens around
  * its calls into the engine, plus the raw Spark job/stage/task and
  * streaming-progress events seen while tracing is on. Nothing is
  * attributed here; `run.py` assigns every event to the span whose time
  * window holds it, because micro-batches run on the stream's own thread
  * and carry no job group of the calling operation.
  *
  * All times are epoch milliseconds. Span times come from `System.nanoTime`
  * anchored once to the wall clock, so they keep sub-millisecond precision
  * and line up with the millisecond stamps Spark puts on its events.
  */
final class Trace(spark: SparkSession) {

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      t0: Double, var t1: Double = Double.NaN)

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Seq[Long]] // job id, start, end, stages
  val stages = ArrayBuffer.empty[Seq[Long]] // stage id, submitted, completed, tasks
  val tasks = ArrayBuffer.empty[Seq[Long]]
  val progress = ArrayBuffer.empty[Map[String, Any]]

  /** Open a span, run `body` with its id, close it even on failure. */
  def span[T](parent: Int, layer: String, name: String)(body: Int => T): T = {
    val s = synchronized {
      val s = Span(spans.size, parent, layer, name, now())
      spans += s
      s
    }
    try body(s.id) finally s.t1 = now()
  }

  private val seen = new AtomicLong
  private val jobsOpen = new AtomicLong
  private val tasksOpen = new AtomicLong
  private val streamsOpen = new AtomicLong

  private val sparkListener = new SparkListener {
    private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Int)]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Trace.this.synchronized { jobStart(e.jobId) = (e.time, e.stageIds.size) }
      jobsOpen.incrementAndGet(); seen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (t0, n) =>
          jobs += Seq(e.jobId.toLong, t0, e.time, n.toLong)
        }
      }
      jobsOpen.decrementAndGet(); seen.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime)
        Trace.this.synchronized { stages += Seq(i.stageId.toLong, t0, t1, i.numTasks.toLong) }
      seen.incrementAndGet()
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      tasksOpen.incrementAndGet(); seen.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) Trace.this.synchronized {
        tasks += Seq(i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled)
      }
      tasksOpen.decrementAndGet(); seen.incrementAndGet()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamsOpen.incrementAndGet(); seen.incrementAndGet()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val rec = Map[String, Any](
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> ms("triggerExecution"),
        "add_batch_ms" -> ms("addBatch"),
        "planning_ms" -> ms("queryPlanning"),
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "offset_ms" -> (ms("latestOffset") + ms("getBatch")),
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      Trace.this.synchronized { progress += rec }
      seen.incrementAndGet()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      streamsOpen.decrementAndGet(); seen.incrementAndGet()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have delivered everything
    * the last operation caused: every started job, task and stream has
    * ended, and the event count holds still over consecutive polls (the
    * public API has no `waitUntilEmpty`; `graft.Profile` drains the same
    * way). Bounded at 10 s so a lost event cannot hang the benchmark.
    */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < Trace.StablePolls && System.nanoTime() < deadline) {
      Thread.sleep(Trace.PollMs)
      val v = seen.get
      val idle = jobsOpen.get <= 0 && tasksOpen.get <= 0 && streamsOpen.get <= 0
      if (v == last && idle) stable += 1 else { stable = 0; last = v }
    }
  }

  def toJson: String = synchronized {
    Json.obj(
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.layer, s.name, s.t0, s.t1)),
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "progress" -> progress)
  }
}

object Trace {
  val PollMs = 10L
  val StablePolls = 3
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
