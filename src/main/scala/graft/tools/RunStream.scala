package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamPipeline

/** CLI entry for the streaming pipeline — the Scala analogue of
  * `python consumer_cassandra.py` (SURVEY §3.2), with a JSON-lines file
  * directory standing in for the Kafka topic (no broker in this
  * environment; swap [[StreamPipeline.kafkaSource]] in production).
  *
  * Usage: runMain graft.tools.RunStream <jsonDir> <sinkDir> <checkpointDir>
  * Processes everything available, prints the serving-store query surface
  * (count, point read, call-type aggregate), then exits.
  */
object RunStream {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: RunStream <jsonDir> <sinkDir> <checkpointDir>")
    val Array(inDir, sinkDir, ckptDir) = args
    val spark = graft.util.Sessions.build("graft-stream")
    try {
      // file-source twin of the Kafka value column
      val raw = spark.readStream.text(inDir).withColumnRenamed("value", "value")
      val parsed = StreamPipeline.decode(raw)
      val sink = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
      val q = StreamPipeline.start(parsed, sink, ckptDir, Trigger.AvailableNow())
      q.awaitTermination()
      val snap = sink.snapshot()
      println(s"[stream] store count: ${StreamPipeline.countAll(snap)}")
      StreamPipeline.pointRead(snap, 5)
        .select("cad_event_number", "call_type", "call_sign_response_time_s_")
        .show(5, truncate = false)
      StreamPipeline.callTypeCounts(snap).show(truncate = false)
      // stateful running totals (mapGroupsWithState) over the same input.
      // Memory-sink queries cannot recover from a checkpoint, so this demo
      // query gets a throwaway checkpoint and recomputes over everything
      // available; a durable sink would reuse ckptDir like the main query.
      val stateQ = StreamPipeline.statefulCallTypeTotals(
          spark, StreamPipeline.decode(spark.readStream.text(inDir)))
        .toDF().writeStream
        .outputMode("update").format("memory").queryName("stateful_totals")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-state-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      stateQ.awaitTermination()
      // watermarked stream dedup (T6 explicit variant) over the same input
      val dedupQ = StreamPipeline.dedupStream(
          StreamPipeline.decode(spark.readStream.text(inDir)))
        .select("cad_event_number")
        .writeStream.outputMode("append").format("memory").queryName("dedup_keys")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-dedup-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      dedupQ.awaitTermination()
      println(s"[stream] distinct (key, event-time) records after stream dedup: " +
        spark.table("dedup_keys").count())
      println("[stream] stateful running totals per call_type:")
      spark.table("stateful_totals")
        .groupBy("call_type").max("total", "batches").show(truncate = false)
    } finally spark.stop()
  }
}
