package graft.streaming

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hermetic streaming tests (SURVEY §5.4): MemoryStream stands in for the
  * Kafka topic, KeyValueParquetSink for Cassandra. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def record(ev: String, callType: String, resp: String,
                     queued: String = "2023-01-15T13:00:00.000", extra: String = ""): String =
    s"""{"cad_event_number":"$ev","call_type":"$callType",
        "cad_event_original_time_queued":"$queued",
        "call_sign_response_time_s_":${if (resp == null) "null" else s""""$resp""""},
        "processed_at":"2023-01-15T13:00:05.123456"$extra}"""
      .replaceAll("\n\\s*", "")

  test("end-to-end micro-batches: JSON decode, E8 casts, PK upsert snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = StreamPipeline.decode(input.toDF().withColumnRenamed("value", "value"))
    val sinkDir = Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val sink = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    val q = StreamPipeline.start(parsed, sink, ckpt, Trigger.ProcessingTime(0))

    // batch 1: dirty duration strings per FIXTURES.md §2
    input.addData(
      record("E1", "911", "123"),
      record("E2", "ONVIEW", " 456 "),
      record("E3", "911", "78s"),
      record("E4", "911", ""),
      record("E5", "911", null))
    q.processAllAvailable()

    // batch 2: duplicate key E1 arrives again -> upsert keeps the later value
    input.addData(record("E1", "911-DUP", "999"))
    q.processAllAvailable()
    q.stop()

    val snap = sink.snapshot()
    val byKey = snap.select("cad_event_number", "call_type", "call_sign_response_time_s_")
      .collect().map(r => r.getString(0) -> (r.getString(1), if (r.isNullAt(2)) null else r.getInt(2)))
      .toMap
    assert(byKey.keySet == Set("E1", "E2", "E3", "E4", "E5"))
    assert(byKey("E1") == ("911-DUP", 999))  // last-writer-wins (T6)
    assert(byKey("E2")._2 == 456)            // " 456 " -> trim+strip -> 456
    assert(byKey("E3")._2 == 78)             // "78s" -> strip alpha -> 78
    assert(byKey("E4")._2 == null)           // "" -> strip -> "" -> cast null
    assert(byKey("E5")._2 == null)           // null stays null (no otherwise)

    // missing fields -> from_json nulls
    assert(snap.filter(col("cad_event_number") === "E2")
      .select("dispatch_precinct").head().isNullAt(0))

    // serving-store query surface (S12/S13 + README aggregate)
    assert(StreamPipeline.countAll(snap) == 5L)
    assert(StreamPipeline.pointRead(snap, 3).count() == 3L)
    val counts = StreamPipeline.callTypeCounts(snap).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("911" -> 3L, "911-DUP" -> 1L, "ONVIEW" -> 1L))
  }

  test("malformed JSON rows decode to all-null records, batch still succeeds (T7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = StreamPipeline.decode(input.toDF())
    val sinkDir = Files.createTempDirectory("graft_stream_bad").toString
    val ckpt = Files.createTempDirectory("graft_stream_bad_ckpt").toString
    val sink = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    val q = StreamPipeline.start(parsed, sink, ckpt, Trigger.ProcessingTime(0))
    input.addData("not json at all", record("OK1", "911", "1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sinkDir)
    assert(rows.count() == 2) // malformed row survives as null record (PERMISSIVE from_json)
    assert(rows.filter(col("cad_event_number").isNull).count() == 1)
  }

  /** A decoded micro-batch as the file source hands it to foreachBatch:
    * JSON lines read as text, then [[StreamPipeline.decode]]. */
  private def decodedBatch(lines: String*): DataFrame = {
    val f = Files.createTempDirectory("graft_stream_batch").resolve("batch.json")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    StreamPipeline.decode(spark.read.text(f.toString))
  }

  private def sinkRows(dir: String): Long = spark.read.parquet(dir).count()

  test("processBatch runs one Spark job per micro-batch and counts the rows it wrote (T3)") {
    val sc = spark.sparkContext
    val group = "graft-processBatch-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val batch = decodedBatch(record("P1", "911", "12"), record("P2", "ONVIEW", "3s"),
      record("P3", "911", null))
    val sinkDir = Files.createTempDirectory("graft_stream_jobs").toString
    val sink = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "processBatch job count")
    val n =
      try StreamPipeline.processBatch(batch, 7L, sink)
      finally {
        sc.clearJobGroup()
        GraftTestBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    // the sink write alone: no cache fill, no separate count
    assert(jobs.get == 1)
    assert(n == 3L)
    val written = spark.read.parquet(sinkDir)
    assert(written.filter(col("epoch_id") === 7L).count() == 3L)
    assert(written.select("cad_event_number").collect().map(_.getString(0)).toSet ==
      Set("P1", "P2", "P3"))
  }

  test("a failing sink drops the batch: -1, no rows, nothing persisted, no wait (T7)") {
    val sc = spark.sparkContext
    val sinkDir = Files.createTempDirectory("graft_stream_fail").toString
    val store = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    assert(StreamPipeline.processBatch(decodedBatch(record("F1", "911", "1")), 0L, store) == 1L)
    // one sink fails inside its write job; the other throws before it runs
    // the frame, so the observed count never arrives and must not be awaited
    val failing = Seq(
      new StreamPipeline.StreamSink {
        def write(df: DataFrame, epochId: Long): Unit =
          store.write(df.withColumn("cad_event_number",
            when(col("cad_event_number").isNotNull, raise_error(lit("sink is down")))), epochId)
      },
      new StreamPipeline.StreamSink {
        def write(df: DataFrame, epochId: Long): Unit =
          throw new IllegalStateException("sink refused the batch")
      })
    val persistedBefore = sc.getPersistentRDDs.keySet
    failing.zipWithIndex.foreach { case (sink, i) =>
      val epoch = i + 1L
      val result = Future(StreamPipeline.processBatch(
        decodedBatch(record("F2", "911", "1"), record("F3", "911", "2")), epoch, sink))
      assert(Await.result(result, 2.minutes) == -1L)
      assert(spark.read.parquet(sinkDir).filter(col("epoch_id") === epoch).isEmpty)
    }
    assert(sinkRows(sinkDir) == 1L)
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
  }

  test("an empty micro-batch counts 0 and adds no rows to the sink") {
    val sinkDir = Files.createTempDirectory("graft_stream_empty").toString
    val sink = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    def dataFiles = new java.io.File(sinkDir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(StreamPipeline.processBatch(decodedBatch(record("M1", "911", "1")), 0L, sink) == 1L)
    val filesBefore = dataFiles
    assert(StreamPipeline.processBatch(decodedBatch(record("M2", "911", "1")).limit(0), 1L, sink) == 0L)
    assert(sinkRows(sinkDir) == 1L)
    assert(dataFiles - filesBefore <= 1) // a schema-only file at most
  }

  test("watermarked stream dedup drops repeated (key, event-time) records across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val deduped = StreamPipeline.dedupStream(StreamPipeline.decode(input.toDF()))
      .select("cad_event_number", "call_type")
    val q = deduped.writeStream
      .outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(record("D1", "911", "1"), record("D1", "911", "1")) // dup in-batch
    q.processAllAvailable()
    input.addData(record("D1", "911", "1"), record("D2", "ONVIEW", "1")) // dup cross-batch
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").collect().map(_.getString(0)).toSeq.sorted
    assert(out == Seq("D1", "D2"), s"got $out")
  }

  test("stream-static join enriches the stream with a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("911", "EMERGENCY"), ("ONVIEW", "OFFICER_INITIATED"))
      .toDF("call_type", "category")
    val input = MemoryStream[String]
    val enriched = StreamPipeline.decode(input.toDF())
      .join(broadcast(dim), Seq("call_type"), "left")
      .select("cad_event_number", "call_type", "category")
    val q = enriched.writeStream
      .outputMode("append").format("memory").queryName("enriched_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(record("J1", "911", "1"), record("J2", "ONVIEW", "1"),
      record("J3", "UNKNOWN_TYPE", "1"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched_out").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(out == Map("J1" -> "EMERGENCY", "J2" -> "OFFICER_INITIATED", "J3" -> null))
  }

  test("stateful mapGroupsWithState keeps running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val totals = StreamPipeline.statefulCallTypeTotals(
      spark, StreamPipeline.decode(input.toDF()))
    val q = totals.toDF().writeStream
      .outputMode("update")
      .format("memory")
      .queryName("stateful_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(record("S1", "911", "1"), record("S2", "911", "1"), record("S3", "ONVIEW", "1"))
    q.processAllAvailable()
    input.addData(record("S4", "911", "1"))
    q.processAllAvailable()
    q.stop()
    // update-mode memory sink keeps every emitted update; the latest row per
    // key reflects state carried across the two batches
    val latest = spark.table("stateful_out")
      .groupBy("call_type")
      .agg(max("total").as("total"), max("batches").as("batches"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(latest("911") == ((3L, 2L)))    // 2 in batch 1 + 1 in batch 2
    assert(latest("ONVIEW") == ((1L, 1L)))
  }

  test("T5 extension: watermarked tumbling-window counts aggregate by event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val windowed = StreamPipeline.windowedCounts(
      StreamPipeline.decode(input.toDF()), "10 minutes", "5 minutes")
    val q = windowed.writeStream
      .outputMode("update")
      .format("memory")
      .queryName("windowed_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(
      record("W1", "911", "1", queued = "2023-01-15T13:01:00.000"),
      record("W2", "911", "1", queued = "2023-01-15T13:03:00.000"),
      record("W3", "911", "1", queued = "2023-01-15T13:07:00.000"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("windowed_out")
      .select(col("window.start").cast("string"), col("call_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2023-01-15 13:00:00", "911", 2L),
      ("2023-01-15 13:05:00", "911", 1L)))
  }

  test("T5 extension: session windows close on the gap, span grows with events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sessions = StreamPipeline.sessionCounts(
      StreamPipeline.decode(input.toDF()), "10 minutes", "5 minutes")
    // session windows only support append mode: a session is emitted once
    // the watermark passes its end (i.e. it can no longer grow)
    val q = sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(
      // 13:01 and 13:03 fall inside one 5-min-gap session; 13:20 opens its own
      record("S1", "911", "1", queued = "2023-01-15T13:01:00.000"),
      record("S2", "911", "1", queued = "2023-01-15T13:03:00.000"),
      record("S3", "911", "1", queued = "2023-01-15T13:20:00.000"))
    q.processAllAvailable()
    // advance the watermark past both session ends so append emits them;
    // the advancer's own session stays open and is NOT emitted
    input.addData(record("S4", "911", "1", queued = "2023-01-15T14:00:00.000"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("session_out")
      .select(col("session_window.start").cast("string"),
        col("session_window.end").cast("string"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      // end = last event + gap: the window stretched as the session grew
      ("2023-01-15 13:01:00", "2023-01-15 13:08:00", 2L),
      ("2023-01-15 13:20:00", "2023-01-15 13:25:00", 1L)))
  }

  test("stream-stream join matches within the time bound only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lin = MemoryStream[String]
    val rin = MemoryStream[String]
    val joined = StreamPipeline.streamStreamJoin(
      StreamPipeline.decode(lin.toDF()),
      StreamPipeline.decode(rin.toDF()),
      watermark = "10 minutes", skew = "5 minutes")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ss_join_out")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    lin.addData(
      record("J1", "911", "1", queued = "2023-01-15T13:00:00.000"),
      record("J2", "911", "1", queued = "2023-01-15T13:00:00.000"))
    rin.addData(
      record("J1", "911", "1", queued = "2023-01-15T13:03:00.000"), // in bound
      record("J2", "911", "1", queued = "2023-01-15T13:09:00.000"), // past skew
      record("J3", "911", "1", queued = "2023-01-15T13:03:00.000")) // no left
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ss_join_out")
      .select("l_key").collect().map(_.getString(0)).toSeq
    assert(out == Seq("J1"))
  }

  test("streaming curation: fingerprint dedup + quality + lang gates, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val ts = java.sql.Timestamp.valueOf("2023-01-15 13:00:00")
    val goodText = "the quick brown fox and the lazy dog of the river today"
    val curated = CurationStream.curate(
      in.toDF().toDF("doc_id", "ts", "text", "lang"))
    val q = curated.writeStream
      .outputMode("append").format("memory").queryName("curation_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    in.addData(
      (1L, ts, goodText, "en"),                         // survives
      (2L, ts, "The  quick brown fox, and the lazy dog of the river today!", "en"), // fp-dup of 1
      (3L, ts, "short", "en"),                          // length gate
      (4L, ts, "alpha beta gamma delta epsilon zeta eta theta", "en"), // no stopwords
      (5L, ts, goodText + " extra", "xx"))              // lang gate
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("curation_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"curation kept $kept")
    // the dedup state is keyed on the fingerprint, evicted by watermark —
    // assert the plan carries the within-watermark dedup operator
    assert(curated.queryExecution.analyzed.toString.contains("DeduplicateWithinWatermark"),
      "expected within-watermark dedup in plan")
  }
}
