package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Extract, Load, Transform}
import graft.schema.CallDataSchema
import graft.streaming.StreamPipeline

/** What one timed region reports. `layer` holds the per-layer figures a
  * workload measures itself; Main adds the span and listener ones. */
final class Outcome {
  var wallS = 0.0
  var rows = 0L
  var rowsTimeS = 0.0
  val opMs = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** [start, end) nanoTime of the timed region. */
  var regions = Seq.empty[(Long, Long)]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  /** One operation and its check: `body` returns what is wrong, if
    * anything, and an exception fails the operation. */
  def attempt(what: String)(body: => Option[String]): Unit = {
    val wrong = try body catch { case e: Exception => Some(s"threw ${e.getMessage}") }
    check(wrong.isEmpty, s"$what: ${wrong.getOrElse("")}")
  }
}

trait Workload {
  /** Work done at set-up, after the session is built (warm-up). */
  def setUp(spark: SparkSession): Unit
  /** The timed region. */
  def run(spark: SparkSession, o: Outcome): Unit
  /** Output checks and per-layer probes, after the timed region and outside it. */
  def verify(spark: SparkSession, o: Outcome, counters: Option[SparkCounters]): Unit = ()
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
  /** (bytes, data files) under a directory, hidden and `_`-prefixed
    * bookkeeping files excluded. */
  def dataSize(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      var bytes = 0L; var files = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        val n = f.getFileName.toString
        if (java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")) {
          bytes += java.nio.file.Files.size(f); files += 1
        }
      }
      (bytes, files)
    }
  }
}

/** Times each star-table write of the traced ETL. */
final class TimedTableSink(inner: Load.TableSink) extends Load.TableSink {
  def write(df: DataFrame, tableName: String): Long =
    Trace.span(s"ops.load.$tableName")(inner.write(df, tableName))
}

/** Times each micro-batch sink write of the traced stream. */
final class TimedStreamSink(inner: StreamPipeline.StreamSink) extends StreamPipeline.StreamSink {
  def write(df: DataFrame, epochId: Long): Unit =
    Trace.span("stream.sink_write")(inner.write(df, epochId))
}

/** The paper's batch pipeline, run cold as `tools.RunBatch` runs it: one
  * `Load.runBatch` call (CSV → 12-step transform → six star tables) in a
  * fresh session. */
final class EtlBatch(data: String, work: String) extends Workload {
  private val expected = Json.read(s"$data/expected.json")
  private val csv = s"$data/calls.csv"
  private val out = s"$work/star"
  private var counts = Map.empty[String, Long]

  def setUp(spark: SparkSession): Unit = ()

  private def traced(spark: SparkSession): Map[String, Long] = {
    val raw = Trace.span("ops.extract") {
      val r = Extract.readCsv(spark, csv, CallDataSchema.csvSchema)
      Extract.validate(r, CallDataSchema.requiredRawColumns)
      r
    }
    val transformed = Trace.span("ops.transform_build")(Transform.transformData(raw))
    Load.saveStarSchema(transformed, new TimedTableSink(new Load.ParquetSink(spark, out)))
  }

  def run(spark: SparkSession, o: Outcome): Unit = {
    val want = expected.get("star_rows").asLong
    val t0 = System.nanoTime()
    val result =
      try Right(if (Trace.enabled) traced(spark) else Load.runBatch(spark, csv, out))
      catch { case e: Exception => Left(e.getMessage) }
    val t1 = System.nanoTime()
    // one operation per star-table write; a run that throws fails all six
    CallDataSchema.starTables.foreach { case (t, _) =>
      result match {
        case Right(c) =>
          o.check(c.get(t).contains(want), s"$t wrote ${c.getOrElse(t, "no")} rows, expected $want")
        case Left(err) => o.check(false, s"$t not written, the ETL threw $err")
      }
    }
    counts = result.getOrElse(Map.empty)
    o.regions = Seq((t0, t1))
    o.wallS = (t1 - t0) / 1e9
    o.opMs += o.wallS * 1e3
    o.rows = expected.get("input_rows").asLong
    o.rowsTimeS = o.wallS
  }

  override def verify(spark: SparkSession, o: Outcome, counters: Option[SparkCounters]): Unit = {
    val (bytes, files) = Files.dataSize(out)
    o.layer("ops.output_files") = files.toDouble
    o.layer("stored_bytes_ratio") = bytes.toDouble / expected.get("input_bytes").asLong
    val prio = spark.read.parquet(s"$out/dim_cad_event_parquet")
      .agg(sum(col("priority"))).head().getLong(0)
    o.check(prio == expected.get("priority_sum").asLong,
      s"dim_cad_event priority sum $prio, expected ${expected.get("priority_sum").asLong}")
    val unknown = spark.read.parquet(s"$out/dim_location_parquet")
      .filter(col("dispatch_sector") === "UNKNOWN").count()
    o.check(unknown == expected.get("unknown_sectors").asLong,
      s"dim_location UNKNOWN sectors $unknown, expected ${expected.get("unknown_sectors").asLong}")
    counters.foreach(c => sameAsRunBatch(spark, o, c))
    Files.delete(out)
  }

  /** The traced ETL calls runBatch's steps one by one so that each gets a
    * span. It stays a measurement of `Load.runBatch` only while it does
    * what runBatch does, so one untraced runBatch call is compared with the
    * traced run: rows per table, data files per table and Spark jobs
    * started. */
  private def sameAsRunBatch(spark: SparkSession, o: Outcome, c: SparkCounters): Unit = {
    val ref = s"$work/reference"
    val t0 = System.nanoTime()
    val refCounts = Load.runBatch(spark, csv, ref)
    val window = (t0, System.nanoTime())
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    def files(dir: String) = CallDataSchema.starTables.map { case (t, _) =>
      t -> Files.dataSize(s"$dir/${t}_parquet")._2
    }.toMap
    val jobs = (c.jobsStartedIn(o.regions), c.jobsStartedIn(Seq(window)))
    o.check(counts == refCounts && files(out) == files(ref) && jobs._1 == jobs._2,
      s"traced ETL differs from Load.runBatch: rows $counts vs $refCounts, " +
        s"files ${files(out)} vs ${files(ref)}, jobs ${jobs._1} vs ${jobs._2}")
    Files.delete(ref)
  }
}

/** The paper's consumer: JSON-lines files, one per micro-batch, through
  * decode → foreachBatch → key-value parquet sink, then serving reads of
  * the last-writer-wins snapshot. */
final class StreamIngest(data: String, work: String) extends Workload {
  private val expected = Json.read(s"$data/expected.json")
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val sinkDir = s"$work/sink"
  private var ingestWindow = (0L, 0L)
  private val rounds = 3

  private def ingest(spark: SparkSession, in: String, sink: StreamPipeline.StreamSink,
                     ckpt: String) = {
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(in)
    val q = StreamPipeline.start(StreamPipeline.decode(raw), sink, ckpt, Trigger.AvailableNow())
    q.awaitTermination()
    q
  }

  def setUp(spark: SparkSession): Unit = {
    val dir = s"$work/warmup"
    val sink = new StreamPipeline.KeyValueParquetSink(spark, s"$dir/sink")
    ingest(spark, s"$data/warmup", sink, s"$dir/ckpt")
    StreamPipeline.countAll(sink.snapshot())
    Files.delete(dir)
  }

  def run(spark: SparkSession, o: Outcome): Unit = {
    val store = new StreamPipeline.KeyValueParquetSink(spark, sinkDir)
    val sink = if (Trace.enabled) new TimedStreamSink(store) else store
    val t0 = System.nanoTime()
    // a query that throws is one failed operation; its micro-batches then
    // fail their checks in verify
    o.attempt("stream ingest") {
      query = Trace.span("stream.ingest")(ingest(spark, s"$data/input", sink, s"$work/ckpt"))
      None
    }
    val t1 = System.nanoTime()
    ingestWindow = (t0, t1)
    val distinct = expected.get("distinct_keys").asLong
    val want = mutable.LinkedHashMap[String, Long]()
    expected.get("call_type_counts").fields().forEachRemaining(e => want(e.getKey) = e.getValue.asLong)
    for (r <- 0 until rounds) {
      var snap: DataFrame = null
      o.attempt(s"serving round $r count") {
        snap = Trace.span("serve.snapshot")(store.snapshot())
        val n = Trace.span("serve.count")(StreamPipeline.countAll(snap))
        if (n == distinct) None else Some(s"$n, expected $distinct")
      }
      o.attempt(s"serving round $r call-type counts") {
        val groups = Trace.span("serve.group")(StreamPipeline.callTypeCounts(snap).collect())
        val got = groups.map(g => g.getString(0) -> g.getLong(1)).toMap
        if (got == want.toMap) None else Some("differ from the input's")
      }
      o.attempt(s"serving round $r point read") {
        val points = Trace.span("serve.point")(StreamPipeline.pointRead(snap, 10).collect())
        if (points.length == 10) None else Some(s"${points.length} rows, expected 10")
      }
    }
    val t2 = System.nanoTime()
    o.wallS = (t2 - t0) / 1e9
    o.rows = expected.get("input_rows").asLong
    o.rowsTimeS = (t1 - t0) / 1e9
    o.regions = Seq((t0, t2))
    o.layer("serve_s") = (t2 - t1) / 1e9
    progress.foreach(p => o.opMs += p.durationMs.get("triggerExecution").doubleValue)
  }

  /** The progress of the micro-batches that read input (none if the query
    * threw before it started). */
  private def progress =
    Option(query).fold(Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress])(
      _.recentProgress.filter(_.numInputRows > 0))

  override def verify(spark: SparkSession, o: Outcome, counters: Option[SparkCounters]): Unit = {
    val batchRows = expected.get("batch_rows").asLong
    // processBatch logs a failed batch and writes nothing, so a dropped
    // batch shows only as an epoch missing from the sink
    val written =
      if (!new java.io.File(sinkDir).exists) Map.empty[Long, Long]
      else spark.read.parquet(sinkDir).groupBy("epoch_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batches = expected.get("batches").asInt
    val ran = progress
    (0 until batches).foreach { i =>
      val p = ran.lift(i)
      val rows = p.map(_.numInputRows).getOrElse(0L)
      val sunk = p.flatMap(x => written.get(x.batchId)).getOrElse(0L)
      o.check(rows == batchRows && sunk == batchRows,
        s"micro-batch $i: read $rows rows, sink holds $sunk, expected $batchRows")
    }
    val (bytes, files) = Files.dataSize(sinkDir)
    o.layer("stream.sink_files") = files.toDouble
    o.layer("stored_bytes_ratio") = bytes.toDouble / expected.get("input_bytes").asLong
    counters.foreach { c =>
      o.layer("stream.jobs_per_batch") =
        c.jobsStartedIn(Seq(ingestWindow)).toDouble / math.max(ran.length, 1)
    }
  }
}

/** The query surface: a fixed panel of `SparkEntry.queries` in a seeded
  * order, each forced once the way `Bench` forces it, with the session
  * scrubbed between queries. */
final class QuerySurface(tier: String, order: Seq[String], expectedRows: Map[String, Long])
    extends Workload {
  private var keep = Set.empty[Int]
  private var queries = Map.empty[String, (SparkSession, String) => DataFrame]

  def setUp(spark: SparkSession): Unit = {
    queries = graft.SparkEntry.queries
    graft.util.Tables.all(spark, tier).values.foreach(df => df.count(): Unit)
    keep = graft.util.SessionHygiene.persistedIds(spark)
  }

  /** Build, plan and force one query; its result row count. */
  private def force(spark: SparkSession, fn: (SparkSession, String) => DataFrame): Long = {
    val df = Trace.span("queries.build")(fn(spark, tier))
    // a map-only plan is forced whole; any other is counted, and the count
    // plan is the one planned here and then executed
    val counted = Trace.span("catalyst.plan") {
      val c = if (graft.Bench.isMapOnly(df.queryExecution)) None else Some(df.groupBy().count())
      c.fold(df.queryExecution)(_.queryExecution).executedPlan
      c
    }
    Trace.span("exec.force") {
      counted.fold(df.queryExecution.toRdd.count())(_.collect().head.getLong(0))
    }
  }

  def run(spark: SparkSession, o: Outcome): Unit = {
    val t0 = System.nanoTime()
    order.foreach { name =>
      val q0 = System.nanoTime()
      o.attempt(name) {
        val rows = Trace.span(s"queries.run.$name")(force(spark, queries(name)))
        o.rows += rows
        if (expectedRows.get(name).contains(rows)) None
        else Some(s"$rows rows, expected ${expectedRows.getOrElse(name, "?")}")
      }
      val q1 = System.nanoTime()
      Trace.span("util.scrub")(graft.util.SessionHygiene.scrub(spark, keep, gc = true))
      o.opMs += (q1 - q0) / 1e6
    }
    val t1 = System.nanoTime()
    o.wallS = (t1 - t0) / 1e9
    o.rowsTimeS = o.opMs.sum / 1e3
    o.regions = Seq((t0, t1))
  }

  override def verify(spark: SparkSession, o: Outcome, counters: Option[SparkCounters]): Unit =
    counters.foreach { c =>
      // reader construction over every table of the tier, timed and with
      // the jobs it starts (parquet schema inference) counted
      val tables = new java.io.File(tier).list().toSeq.filter(_.endsWith(".parquet")).sorted
      val opens = tables.map(_.stripSuffix(".parquet")).map { t =>
        val s = System.nanoTime()
        graft.util.Tables.table(spark, tier, t)
        (s, System.nanoTime())
      }
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      o.layer("util.table_open_s") = opens.map { case (s, e) => (e - s) / 1e9 }.sum / opens.size
      o.layer("util.table_open_jobs") = c.jobsStartedIn(opens).toDouble / opens.size
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
