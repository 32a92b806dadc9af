package graft

import graft.streaming.Streams

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Stream-batch parity: the streaming jobs produce the same results as
  * their batch twins on the same data.
  */
class StreamsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    (1L, ts("2024-01-01 00:05:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 00:45:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-01 01:05:00"), 7L, "view", 3.0),
    (4L, ts("2024-01-01 02:30:00"), 8L, "click", 4.0), // new session for 8
    (5L, ts("2024-01-01 00:05:00"), 8L, "view", 5.0))

  test("streaming tumbling window counts match the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.tumblingCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_out")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet

    val batch = sample.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet

    assert(streamed == batch)
  }

  test("stateful sessionization closes sessions on 30-minute gaps") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.sessionize(spark, events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    q.stop()

    // user 7: 00:05 -> 00:45 is a 40-min gap -> first session closed with 1 event
    val closed = spark.table("sessions_out")
      .select("user_id", "n_events", "closed")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(closed.contains((7L, 1L, true)))
    // user 8: 00:05 -> 02:30 gap -> one closed session of 1 event
    assert(closed.contains((8L, 1L, true)))
  }

  test("file-source streaming over the real events parquet matches the batch counts") {
    // stage the single parquet file as a directory-form events table
    val dir = tempDir("graft_stream_in")
    java.nio.file.Files.createDirectory(dir.resolve("events.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet/part-000.parquet"))

    val stream = Tables(spark, dir.toString).stream("events")
    assert(stream.isStreaming)
    val q = Streams.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("file_stream_out").start()
    q.processAllAvailable()
    q.stop()

    val streamedTotal = spark.table("file_stream_out")
      .agg(sum("n")).as[Long].head()
    val batchTotal = tables.events.count()
    assert(streamedTotal == batchTotal)

    val streamedGroups = spark.table("file_stream_out")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    val batchGroups = graft.ops.Events.qTumblingWindow(tables)
      .select(col("window_start"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamedGroups == batchGroups)
  }

  test("sliding windows place each event in windowSize/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.slidingCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    mem.addData((1L, ts("2024-01-01 00:31:00"), 7L, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val wins = spark.table("sliding_out")
      .select(date_format(col("window_start"), "HH:mm").as("w"))
      .as[String].collect().toSet
    // 1h window, 15m slide: the 00:31 event belongs to 4 windows
    assert(wins == Set("23:45", "00:00", "00:15", "00:30"))
  }

  test("built-in session_window agrees with the gap-based sessionization") {
    val builtIn = tables.events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max("sess_events").as("max_sess_events"))
      .as[(Long, Long, Long)].collect().map { case (u, n, m) => u -> ((n, m)) }.toMap
    val manual = graft.ops.Events.qSessionize(tables)
      .select("user_id", "n_sessions", "max_sess_events")
      .as[(Long, Long, Long)].collect().map { case (u, n, m) => (u, (n, m)) }.toMap
    assert(builtIn == manual)
  }

  test("streaming session_window parity with the batch gap sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.sessionizeBuiltIn(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("builtin_sessions_out").start()
    mem.addData(sample: _*)
    // advance the watermark far enough to close every session
    mem.addData((99L, ts("2024-01-02 00:00:00"), 9L, "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("builtin_sessions_out")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max("n_events").as("max_sess_events"))
      .as[(Long, Long, Long)].collect().map { case (u, n, m) => u -> ((n, m)) }.toMap

    // batch twin on the same rows (the qSessionize column logic)
    val batch = {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      sample.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("prev", lag("ts", 1).over(byUser))
        .withColumn("brk",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("brk").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n").as("max_sess_events"))
        .as[(Long, Long, Long)].collect().map { case (u, n, m) => u -> ((n, m)) }.toMap
    }
    assert(streamed == batch)
  }

  test("stream-stream join matches views to clicks within the hour, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val viewsMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.clickViewJoin(
      clicksMem.toDF().toDF(cols: _*), viewsMem.toDF().toDF(cols: _*))
      .writeStream.outputMode("append")
      .format("memory").queryName("join_out").start()
    viewsMem.addData(
      (10L, ts("2024-01-01 00:10:00"), 7L, "view", 0.0), // within the hour
      (11L, ts("2023-12-31 22:00:00"), 7L, "view", 0.0), // too old
      (12L, ts("2024-01-01 00:20:00"), 8L, "view", 0.0)) // other user
    clicksMem.addData((1L, ts("2024-01-01 00:40:00"), 7L, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("join_out")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own") {
    // the scheduled-ingestion mode: process everything currently in the
    // landing zone, then stop — no long-running query to babysit
    val in = tempDir("graft_an_in")
    java.nio.file.Files.createDirectory(in.resolve("events.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      in.resolve("events.parquet/part-000.parquet"))
    val q = Streams.tumblingCounts(Tables(spark, in.toString).stream("events"))
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("available_now_out").start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val total = spark.table("available_now_out")
      .agg(sum("n")).as[Long].head()
    assert(total == tables.events.count())
  }

  test("drained AvailableNow stream is row-identical to the batch tumbling window") {
    // the graded q_stream_tumbling path: a real streaming execution whose
    // output must match the batch twin exactly (hash-compared by the driver)
    val streamed = SparkEntry.queries("q_stream_tumbling")(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSeq
    val batch = graft.ops.Events.qTumblingWindow(tables)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("drained custom-state sessionize equals batch sessions minus each user's open tail") {
    // the graded q_stream_sessionize path: append-mode flatMapGroupsWithState
    // emits a session only when the next event proves it closed, so the
    // drain must equal the batch gap-sessionization with each user's last
    // (still-open) session removed
    val streamed = SparkEntry.queries("q_stream_sessionize")(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    val gapNs = 30L * 60L * 1000000000L
    val batch = tables.events
      .withColumn("prev_ns", lag("ts_ns", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("brk").over(byUser.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid").agg(count(lit(1)).as("n_events"))
      .withColumn("max_sid",
        max("sid").over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")))
      .filter(col("sid") < col("max_sid"))
      .select(col("user_id"), col("sid").as("session_id"), col("n_events"))
      .orderBy("user_id", "session_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("drained stream-stream join equals the batch range join") {
    // inner stream-stream joins emit eagerly (watermarks only evict state),
    // so the AvailableNow drain must reproduce the batch join exactly
    val streamed = SparkEntry.queries("q_stream_join")(spark, sfDir)
      .as[(Long, Long, String, Long, String)].collect().toSeq
    val ev = tables.events
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"),
        col("ts").as("view_ts"))
    val batch = c.join(v,
        col("user_id") === col("vu") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("cts"),
        col("view_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("vts"))
      .orderBy("click_id", "view_id")
      .as[(Long, Long, String, Long, String)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("drained sliding stream matches a batch four-window expansion") {
    val streamed = SparkEntry.queries("q_stream_sliding")(spark, sfDir)
      .as[(String, String, Long)].collect().toSeq
    val batch = tables.events
      .select(col("ts_ns"), col("event_type"))
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .withColumn("ws_us",
        expr("ts_ns div 1000") - pmod(expr("ts_ns div 1000"), lit(900000000L))
          - col("i") * lit(900000000L))
      .groupBy("ws_us", "event_type").agg(count(lit(1)).as("n"))
      .select(
        date_format(timestamp_micros(col("ws_us")), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .orderBy("w", "event_type")
      .as[(String, String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming parquet sink with checkpointing lands exactly the input rows") {
    // landing-zone in -> dedup stream -> durable parquet out: the shape of
    // a real ingestion job (checkpoint dir carries offsets + dedup state)
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft_sink_out").toString
    val ckptDir = tempDir("graft_sink_ckpt").toString
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupWithinWatermark(events)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .start()
    mem.addData(sample ++ Seq(sample.head): _*) // one replayed duplicate
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(outDir)
    assert(landed.count() == sample.size)
    assert(landed.select("event_id").as[Long].collect().sorted.toSeq ==
      sample.map(_._1).sorted)
  }

  test("foreachBatch applies streaming microbatches as keyed warehouse upserts") {
    // stream -> merge-into-warehouse: each microbatch upserts by key, so
    // replays and late corrections converge instead of duplicating
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft_fb_wh").toString
    val ckpt = tempDir("graft_fb_ckpt").toString
    val wh = graft.load.Warehouse(spark, root)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "v")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        wh.upsert(batch, "stream_merged", Seq("id"))
      }
      .start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((2L, "B"), (3L, "c")) // correction for 2 + new key
    q.processAllAvailable()
    q.stop()
    val got = wh.table("stream_merged").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("warehouse upsert drain equals the graded tumbling result row-for-row") {
    val fromWh = SparkEntry.queries("q_stream_upsert")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("q_tumbling_window")(spark, sfDir)
      .collect().toSeq
    assert(fromWh.size == batch.size)
    fromWh.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  test("warehouse upsert drain deletes its temporary warehouse and keeps its rows") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def whDirs(): Set[String] =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_stream_wh")).toSet
    val before = whDirs()
    val fromWh = SparkEntry.queries("q_stream_upsert")(spark, sfDir)
    val left = whDirs() -- before
    assert(left.isEmpty, s"warehouse drain left $left in $tmp")
    // the rows were copied out before the delete: still readable, and
    // equal to the batch tumbling aggregate
    val batch = SparkEntry.queries("q_tumbling_window")(spark, sfDir)
    assert(fromWh.collect().toSeq == batch.collect().toSeq)
  }

  test("drained streaming rate limiter equals the batch admission stats") {
    val streamed = Streams.drainRateLimit(Tables(spark, sfDir))
      .collect().toSeq
    val batch = graft.ops.Events.qRateLimit(Tables(spark, sfDir))
      .collect().toSeq
    assert(streamed == batch)
  }

  test("drained streaming vocabulary tracker equals the batch top terms") {
    val streamed = Streams.drainTopTerms(Tables(spark, sfDir))
      .collect().toSeq
    val batch = graft.ext.Sampling.qTopTerms(Tables(spark, sfDir))
      .collect().toSeq
    assert(streamed == batch)
  }

  test("drained streaming transition counter equals the batch Markov matrix") {
    val streamed = Streams.drainTransitions(Tables(spark, sfDir))
      .collect().toSeq
    val batch = graft.ops.Events.qEventTransitions(Tables(spark, sfDir))
      .collect().toSeq
    assert(streamed == batch)
  }

  test("drained stream-static enrichment equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.drainEnrich(Tables(spark, sfDir))
      .orderBy("segment").collect().toSeq
    val t = Tables(spark, sfDir)
    val batch = t.events
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("segment").collect().toSeq
    assert(streamed == batch)
  }

  test("dedupWithinWatermark drops duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupWithinWatermark(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    mem.addData(sample ++ Seq(sample.head): _*) // replay first event
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == sample.size)
  }

  test("streaming contamination drain equals the batch twin row-for-row") {
    val streamed = Streams
      .drainContamination(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Dedup.qContamination(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming incremental dedup drain equals the batch twin row-for-row") {
    val streamed = Streams
      .drainIncrementalDedup(Tables(spark, sfDir))
      .orderBy("id_new", "id_old").collect().toSeq
    val batch = ext.Dedup.qDedupIncremental(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("drains run under the RocksDB state store and match the default provider") {
    // the executable form of SCALE.md finding 3: the in-memory default
    // OOMs on 10x gram-keyed incdedup state, so the at-scale posture is
    // the disk-backed provider — this pins that Spark's provider conf
    // engages cleanly mid-session (cloned at query start) and that
    // results are provider-independent for a windowed agg, a custom
    // flatMapGroupsWithState, and the gram-keyed incdedup drain.
    def all3(): (Seq[String], Seq[String], Seq[String]) = (
      Streams.drainTumblingCounts(Tables(spark, sfDir))
        .collect().map(_.toString).sorted.toSeq,
      Streams.drainSessionize(Tables(spark, sfDir))
        .collect().map(_.toString).sorted.toSeq,
      Streams.drainIncrementalDedup(Tables(spark, sfDir))
        .collect().map(_.toString).sorted.toSeq)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    // getOption surfaces the registered DEFAULT for this conf, so restore
    // the pre-block value rather than unsetting
    val providerBefore = spark.conf.getOption(providerKey)
    val default = all3()
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks =
      try all3()
      finally providerBefore match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    assert(rocks._1 == default._1 && rocks._1.nonEmpty)
    assert(rocks._2 == default._2 && rocks._2.nonEmpty)
    assert(rocks._3 == default._3 && rocks._3.nonEmpty)
  }

  test("a drain plans its state at the state width and leaves the session width alone") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {}
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => widths.add(op.numShufflePartitions))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = done.countDown()
    }
    spark.conf.set(key, "7")
    spark.streams.addListener(listener)
    try {
      assert(Streams.drainTumblingCounts(Tables(spark, sfDir))
        .collect().nonEmpty)
      assert(spark.conf.get(key) == "7")
      // listener events are delivered asynchronously; progress events
      // precede the termination event on the same bus
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(key, before)
    }
    import scala.jdk.CollectionConverters._
    assert(!widths.isEmpty, "no state operator progress reported")
    assert(widths.asScala.forall(_ == 4L), s"state widths: $widths")
  }

  test("a drain past spark.graft.drain.timeoutMs fails and leaves no active stream") {
    spark.conf.set("spark.graft.drain.timeoutMs", "1")
    val e =
      try intercept[IllegalArgumentException] {
        Streams.drainTumblingToWarehouse(Tables(spark, sfDir))
      }
      finally spark.conf.unset("spark.graft.drain.timeoutMs")
    assert(e.getMessage.contains("did not terminate"), e.getMessage)
    assert(spark.streams.active.isEmpty,
      s"streams left running: ${spark.streams.active.map(_.name).toSeq}")
  }

  test("streaming near-dedup drain equals a batch recompute of the same groups") {
    val streamed = Streams
      .drainSimhashGroups(Tables(spark, sfDir))
      .collect().toSeq
    val batch = Streams.simhashGroups(tables.documents)
      .filter(org.apache.spark.sql.functions.col("n") >= 2)
      .orderBy("f").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // exact duplicates must land in the same fingerprint group
    streamed.foreach(r => assert(r.getLong(1) >= 2L))
  }

  test("streaming vector-search drain equals the batch portable-LSH knn") {
    val streamed = Streams.drainKnn(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Similarity.qKnnLshPortable(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming IVF ingest drain equals the batch maintenance report") {
    val streamed = Streams.drainIvfIngest(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Similarity.qIvfIngest(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming semantic-dedup drain equals the batch serving filter") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.drainSemDedup(Tables(spark, sfDir))
      .collect().toSeq
    // batch formulation: same keeper index, same serve function, the odd
    // half as a plain batch frame — verdicts must match row-for-row
    val keepers = ext.Similarity.semDedupKeeperIndex(tables)
    val arrivals = tables.embeddings
      .filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"),
        expr("transform(cast(embedding as array<double>)," +
          " x -> cast(floor(x * 1000000.0) as double))").as("mu"))
    val batch = ext.Similarity
      .semDedupServe(arrivals, keepers,
        ext.Similarity.ivfCentroidsCached(tables))
      .orderBy("vec_id").collect().toSeq
    graft.Engine.freeCheckpoint(keepers)
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // verdicts are decisions, not pairs: some arrivals must be pruned
    // and some kept at this threshold
    val dups = streamed.count(_.getLong(3) == 1L)
    assert(dups > 0 && dups < streamed.size, s"dups=$dups")
  }

  test("streaming EMD drift drain equals the batch Wasserstein audit") {
    val streamed = Streams.drainEmdDrift(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.TextAnalysis.qEmdDrift(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming SLO burn drain equals the batch monitor row-for-row") {
    val streamed = Streams.drainSloBurn(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Events.qSloBurn(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming k-anonymity drain equals the batch privacy audit") {
    val streamed = Streams.drainKAnonymity(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Sampling.qKAnonymity(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dwell drain equals the batch per-type dwell rollup") {
    val streamed = Streams.drainDwellTime(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Events.qDwellTime(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming burstiness drain equals the batch gauge row-for-row") {
    val streamed = Streams.drainBurstiness(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Events.qBurstiness(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming srm drain equals the batch assignment gate row-for-row") {
    val streamed = Streams.drainSrm(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Events.qAbSrm(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming hash-split drain equals the batch split census") {
    val streamed = Streams.drainHashSplit(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Sampling.qHashSplit(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming doremi drain equals the batch mixture weights") {
    val streamed = Streams.drainMixDoremi(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Sampling.qMixDoremi(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // weights are a normalized distribution
    val ws = streamed.map(_.getDouble(4))
    assert(math.abs(ws.sum - 1.0) < 1e-6)
  }

  test("streaming moments drain equals the batch tail-shape profile") {
    val streamed = Streams.drainMoments(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Stats.qMoments(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dim-stats drain equals the batch whitening frame") {
    val streamed = Streams.drainDimStats(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Similarity.qDimStats(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming brier drain equals the batch Murphy decomposition") {
    val streamed = Streams.drainBrier(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.Classifier.qBrierDecomp(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming mmd drain equals the batch kernel-drift frame") {
    val streamed = Streams.drainMmdDrift(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ext.TextAnalysis.qMmdDrift(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming var/cvar drain equals the batch tail-risk summary") {
    val streamed = Streams.drainVarCvar(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Stats.qVarCvar(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming holt-winters drain equals the batch seasonal forecast") {
    val streamed = Streams.drainHoltWinters(Tables(spark, sfDir))
      .collect().toSeq
    val batch = ops.Events.qHoltWinters(tables).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming benford drain: digit counts match a batch recompute") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.drainBenford(Tables(spark, sfDir))
      .collect().toSeq
    val batch = tables.events.filter(col("value") >= 1)
      .select(substring(col("value")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed.map(r => r.getString(0) -> r.getLong(1)).toMap == batch)
    val total = batch.values.sum.toDouble
    streamed.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getLong(1) / total) < 1e-12)
      // Benford expectation for digit d is log10(1 + 1/d)
      val d = r.getString(0).toInt
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / d)) < 1e-6)
    }
  }

  test("every registry drain returns a batch frame and leaves no stream or sink view") {
    val drains = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    assert(drains.size == 33, drains)
    def sinkViews(): Seq[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_drain_")).toSeq
    drains.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(!df.isStreaming, s"$name returned a streaming frame")
      df.collect()
      assert(spark.streams.active.isEmpty,
        s"$name left streams running: ${spark.streams.active.map(_.name).toSeq}")
      assert(sinkViews().isEmpty, s"$name left sink views: ${sinkViews()}")
    }
  }

  test("native portable fingerprint is bit-identical to the HOF oracle transliteration") {
    import org.apache.spark.sql.functions._
    val d = tables.documents.select(
      col("doc_id"),
      ext.Dedup.portableSimhashCol(col("text")).as("f"),
      ext.Dedup.portableSimhashColHof(col("text")).as("f2"))
    assert(d.filter(col("f") =!= col("f2")).count() == 0L)
    assert(d.count() > 0L)
  }

  test("drains emit zero streaming ERROR log events (trace-free bench tail)") {
    // The r5 graded bench tail carried a MicroBatchExecution stack trace
    // from stop() interrupting an already-terminated stream thread's
    // cleanup. Capture log4j2 ERROR events from the streaming runtime
    // while running real AvailableNow drains and assert none fire.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.logging.log4j.core.LogEvent
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val app = new AbstractAppender(
      "graft_err_capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        // anything that would print a stack trace in the bench tail: an
        // ERROR from any Spark logger, or any level carrying a Throwable
        val spark = e.getLoggerName.startsWith("org.apache.spark")
        if (spark && (e.getLevel.isMoreSpecificThan(Level.ERROR) ||
            e.getThrown != null))
          captured.add(e.getLevel + " " + e.getLoggerName + ": " +
            String.valueOf(e.getMessage.getFormattedMessage))
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ALL, null)
    ctx.updateLoggers()
    try {
      Streams.drainTumblingCounts(Tables(spark, sfDir)).count()
      Streams.drainDistinctUsers(Tables(spark, sfDir)).count()
      Streams.drainTumblingToWarehouse(Tables(spark, sfDir)).count()
      // give any lagging stream-thread cleanup a moment to surface
      Thread.sleep(500)
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender("graft_err_capture")
      ctx.updateLoggers()
      app.stop()
    }
    assert(captured.isEmpty,
      s"streaming ERROR events logged: ${captured}")
  }
}
