package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver has shipped `events.ts` in two on-disk encodings — INT64
  * epoch-nanos and TIMESTAMP(MICROS) — and regenerated the testdata
  * between rounds. These tests pin the adaptive readers
  * ([[Tables.events]], [[Tables.stream]]) to the
  * contract that BOTH encodings land on identical (ts, ts_ns) values, so
  * the next flip cannot silently break every events-touching query
  * again.
  */
class EventsEncodingSpec extends SparkSuite {

  // one hour of events at microsecond precision, spanning a window edge
  private val rowsUs: Seq[(Long, Long, Long, String, Double, String)] = Seq(
    (1L, 1700000000000000L, 7L, "click", 1.5, "{}"),
    (2L, 1700000000123456L, 7L, "view", 2.0, "{}"),
    (3L, 1700003599999999L, 8L, "click", 0.5, "{}"),
    (4L, 1700003600000001L, 8L, "purchase", 9.0, "{}"))

  private def writeDirs(): (String, String) = {
    val root = tempDir("graft_enc").toString
    import spark.implicits._
    val base = rowsUs.toDF(
      "event_id", "ts_us", "user_id", "event_type", "value", "props")
    // the driver ships events.parquet as a single FILE (not a directory):
    // write to a staging dir, then move the part file into place so
    // Tables.stream reads the same one-file layout
    def writeFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val stage = s"$root/.stage_${dest.hashCode.toHexString}" +
        s"_${System.nanoTime()}"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val destFile = new java.io.File(dest)
      destFile.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, destFile.toPath)
    }
    // TIMESTAMP(MICROS) encoding (the regenerated-driver shape)
    writeFile(
      base.select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      s"$root/us/events.parquet")
    // raw INT64 epoch-nanos encoding (the original shape, as the engine
    // sees it through nanosAsLong: a plain long column)
    writeFile(
      base.select(col("event_id"), (col("ts_us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      s"$root/ns/events.parquet")
    (s"$root/us", s"$root/ns")
  }

  test("batch reader lands both encodings on identical (ts, ts_ns)") {
    val (usDir, nsDir) = writeDirs()
    def norm(dir: String): Seq[Row] =
      Tables(spark, dir).events
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          col("ts_ns"))
        .orderBy("event_id").collect().toSeq
    val us = norm(usDir)
    val ns = norm(nsDir)
    assert(us == ns, s"encodings diverge:\n$us\nvs\n$ns")
    // spot value: exact nanosecond arithmetic domain survives the round trip
    assert(us(1).getLong(2) == 1700000000123456000L)
  }

  test("streaming source drains identical windowed counts from both encodings") {
    val (usDir, nsDir) = writeDirs()
    def counts(dir: String): Seq[Row] =
      graft.streaming.Streams
        .drainTumblingCounts(Tables(spark, dir))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type").collect().toSeq
    val us = counts(usDir)
    val ns = counts(nsDir)
    assert(us == ns, s"streamed windows diverge:\n$us\nvs\n$ns")
    // the 4 events span two hourly windows with three event types
    assert(us.map(_.getLong(2)).sum == 4L)
  }

  test("stream(events) lands every event on the batch reader's (ts, ts_ns)") {
    val (usDir, nsDir) = writeDirs()
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          col("ts_ns"))
        .orderBy("event_id").collect().toSeq
    Seq(usDir -> "graft_enc_us", nsDir -> "graft_enc_ns").foreach { case (dir, sink) =>
      val t = Tables(spark, dir)
      val stream = t.stream("events")
      // withWatermark takes only TIMESTAMP; the batch reader keeps NTZ
      assert(stream.schema("ts").dataType == TimestampType)
      assert(t.events.schema("ts").dataType == TimestampNTZType)
      val q = stream.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try {
        assert(q.awaitTermination(120000), s"$sink did not terminate")
        q.exception.foreach(e => throw e)
        val streamed = norm(spark.table(sink))
        val batch = norm(t.events)
        assert(streamed.size == rowsUs.size)
        assert(streamed == batch, s"$sink diverges:\n$streamed\nvs\n$batch")
      } finally {
        q.stop()
        spark.catalog.dropTempView(sink)
      }
    }
  }
}
