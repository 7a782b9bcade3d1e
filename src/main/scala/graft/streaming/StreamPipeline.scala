package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.IntegerType

/** The Kafka → Structured Streaming → key-value store pipeline
  * (SURVEY §2.1 S8-S13, §2.8 T1-T7; reference
  * `Real_Time_Streaming/consumer/consumer_cassandra.py`).
  *
  * Deviations, both documented in SURVEY and both improvements:
  *   - T4: we always set `checkpointLocation` (the reference has none — no
  *     recovery, at-most-once across restarts);
  *   - per-epoch the reference triggers 3 actions on the same un-cached
  *     micro-batch (count, show, write — SURVEY §3.2); we run one, the
  *     sink write, and observe the batch's row count on it.
  */
object StreamPipeline {

  /** S9: Kafka source — production path (not reachable in tests; tests
    * drive [[decode]]+[[start]] through a MemoryStream).
    *
    * Embedded-broker e2e was evaluated (round 4) and is a hard environment
    * limit, not a build choice: the offline coursier cache holds no
    * org.apache.kafka artifacts (118 jars: sbt tooling + scalatest +
    * scalacheck + duckdb_jdbc only), so a KRaft test fixture cannot
    * resolve, AND `/opt/spark/jars` ships without spark-sql-kafka-0-10,
    * so `format("kafka")` itself cannot load in this container — an
    * embedded broker alone would not make this method executable. The
    * MemoryStream/file twins exercise the identical decode→transform→sink
    * contract downstream of `load()`. */
  def kafkaSource(spark: SparkSession, broker: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", broker)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()

  /** S8/E12 (`producer.py:33`): the producer-side ingest stamp — ISO-8601
    * microsecond `processed_at`, the Spark-side equivalent of Python's
    * `datetime.utcnow().isoformat()`. Applied at ingest when records enter
    * from a source that lacks the field. */
  def stampProcessedAt(df: DataFrame): DataFrame =
    df.withColumn("processed_at",
      date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

  /** S10 (`consumer_cassandra.py:256-259`): JSON decode + flatten. */
  def decode(kafkaDf: DataFrame): DataFrame =
    kafkaDf
      .select(from_json(col("value").cast("string"), StreamSchema.schema).alias("data"))
      .select("data.*")

  /** E8 (`consumer_cassandra.py:165-196`): strip non-digits and cast the 13
    * duration columns to int. The when-guard has no otherwise → nulls stay
    * null; empty-after-strip strings cast to null (non-ANSI). */
  def transformTimeFields(df: DataFrame): DataFrame =
    df.withColumns(StreamSchema.durationColumns.map { c =>
      c -> when(col(c).isNotNull, trim(regexp_replace(col(c), "[^0-9]", "")).cast(IntegerType))
    }.toMap)

  /** Sink contract for the per-epoch write (S11). The reference's Cassandra
    * table upserts on PK `cad_event_number`; local stand-in is an
    * append-only parquet log collapsed to latest-per-key on read.
    *
    * `write` must run the frame it is given, by an action on it or on a
    * frame derived from it, before it returns: [[processBatch]] reads the
    * batch's row count from that run and waits for it. A `write` that
    * returns without running the frame blocks its micro-batch. */
  trait StreamSink {
    def write(df: DataFrame, epochId: Long): Unit
  }

  /** Append-log parquet sink + Cassandra-style PK semantics on read. */
  class KeyValueParquetSink(spark: SparkSession, dir: String,
                            keyCol: String = "cad_event_number") extends StreamSink {
    def write(df: DataFrame, epochId: Long): Unit =
      df.withColumn("epoch_id", lit(epochId))
        .write.mode("append").parquet(dir)

    /** Last-writer-wins view over the append log (PK upsert semantics, T6):
      * latest (epoch_id, insert_timestamp, processed_at) per key. The third
      * key breaks ties *within* a micro-batch — insert_timestamp is constant
      * per epoch (current_timestamp folds once per query), so without it the
      * surviving duplicate would be arbitrary. */
    def snapshot(): DataFrame = {
      val w = Window.partitionBy(keyCol)
        .orderBy(col("epoch_id").desc, col("insert_timestamp").desc,
          col("processed_at").desc_nulls_last)
      spark.read.parquet(dir)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** T3+T7 (`consumer_cassandra.py:198-226`): the micro-batch body — E8
    * casts, insert_timestamp stamp, sink write; failed batches are logged
    * and dropped. Returns the record count (driver-observable), or -1 for a
    * failed batch.
    *
    * One Spark job per batch: the count is an observed metric of the sink's
    * write, not an action of its own, so the epoch is neither cached nor
    * recomputed (the reference evaluates it 3×). The count is read only
    * after `write` returns, so a write that throws never waits for it. */
  def processBatch(df: DataFrame, epochId: Long, sink: StreamSink): Long =
    try {
      val rows = Observation()
      sink.write(
        transformTimeFields(df)
          .withColumn("insert_timestamp", current_timestamp())
          .observe(rows, count(lit(1)).as("rows")),
        epochId)
      rows.get("rows").asInstanceOf[Long]
    } catch {
      case e: Exception =>
        System.err.println(s"[stream] error processing batch $epochId: ${e.getMessage}")
        -1L
    }

  /** T1-T4 (`consumer_cassandra.py:263-271`): start the query. Update output
    * mode (degenerate append with foreachBatch — documented), 10 s processing
    * trigger by default, checkpointed. */
  def start(parsed: DataFrame, sink: StreamSink, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        processBatch(df, epochId, sink): Unit
      }
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  // ---- serving-store query surface (S12/S13 + README.md:130-134) ----

  /** S12: `SELECT * FROM police_calls LIMIT n` (`query_cassandra.py:20`). */
  def pointRead(store: DataFrame, n: Int = 10): DataFrame = store.limit(n)

  /** S13: `SELECT COUNT(*)` (`query_cassandra.py:35`). */
  def countAll(store: DataFrame): Long = store.count()

  /** The README's one analytical query: GROUP BY call_type counts. */
  def callTypeCounts(store: DataFrame): DataFrame =
    store.groupBy("call_type").agg(count(lit(1)).as("cnt")).orderBy("call_type")

  // ---- T5 engine extension (absent in reference, SURVEY §2.8) ----

  /** Watermarked tumbling-window counts — the streaming analogue of the A3
    * aggregate. Event time = `cad_event_original_time_queued`. */
  def windowedCounts(parsed: DataFrame,
                     watermark: String = "10 minutes",
                     windowLen: String = "5 minutes"): DataFrame =
    parsed
      .withWatermark("cad_event_original_time_queued", watermark)
      .groupBy(
        window(col("cad_event_original_time_queued"), windowLen),
        col("call_type"))
      .agg(count(lit(1)).as("cnt"))

  /** Watermarked SESSION-window counts (native `session_window`): dynamic
    * gap-closed windows — the streaming twin of the batch
    * [[graft.operators.Sessionize]] operator. State per key is bounded by
    * the watermark horizon: a session closes once no event lands within
    * `gap`, and closed sessions older than the watermark are evicted.
    * Append-output only (Spark emits a session when the watermark passes
    * its end — the point at which it can no longer grow). */
  def sessionCounts(parsed: DataFrame,
                    watermark: String = "10 minutes",
                    gap: String = "5 minutes"): DataFrame =
    parsed
      .withWatermark("cad_event_original_time_queued", watermark)
      .groupBy(
        session_window(col("cad_event_original_time_queued"), gap),
        col("call_type"))
      .agg(count(lit(1)).as("cnt"))

  /** Watermarked stream-stream INNER join (SURVEY §2.8 extension): left
    * records joined to right records of the same event number whose event
    * time lands within `[l_time, l_time + skew]`. Both watermarks plus the
    * time bound let Spark evict join state — without the range condition a
    * stream-stream join would buffer both sides forever. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       watermark: String = "10 minutes",
                       skew: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark("cad_event_original_time_queued", watermark)
      .select(
        col("cad_event_number").as("l_key"),
        col("cad_event_original_time_queued").as("l_time"),
        col("call_type"))
    val r = right.withWatermark("cad_event_original_time_queued", watermark)
      .select(
        col("cad_event_number").as("r_key"),
        col("cad_event_original_time_queued").as("r_time"))
    l.join(r, expr(
      s"l_key = r_key AND r_time >= l_time AND r_time <= l_time + INTERVAL $skew"))
  }

  /** T6 explicit variant (SURVEY §2.8): stream-side dedup by key with a
    * watermark bounding the state — the in-flight complement of the sink's
    * last-writer-wins upsert. Without the watermark the key set grows
    * forever; with it, keys older than the horizon are evicted. */
  def dedupStream(parsed: DataFrame,
                  watermark: String = "1 hour",
                  eventTimeCol: String = "cad_event_original_time_queued"): DataFrame =
    parsed
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates("cad_event_number", eventTimeCol)

  /** Running totals per call_type observed so far. */
  case class CallTypeState(call_type: String, total: Long, batches: Long)

  /** Custom-state streaming via `mapGroupsWithState` (SURVEY §2.8 engine
    * extension; the reference has no stateful ops): per-key state survives
    * across micro-batches in the state store, checkpointed with the query.
    * State is O(#distinct call types) — bounded, no watermark needed; keyed
    * state partitions across executors like any keyed stream. */
  def statefulCallTypeTotals(spark: SparkSession, parsed: DataFrame)
      : org.apache.spark.sql.Dataset[CallTypeState] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    parsed
      .filter(col("call_type").isNotNull)
      .select(col("call_type")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState[CallTypeState, CallTypeState](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(CallTypeState(key, 0L, 0L))
          val next = CallTypeState(key, prev.total + rows.size, prev.batches + 1)
          state.update(next)
          next
      }
  }
}
