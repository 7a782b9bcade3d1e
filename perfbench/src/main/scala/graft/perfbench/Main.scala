package graft.perfbench

import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM: set up, run one workload's timed
  * region, check its outputs and write the figures as one JSON record.
  * `perfbench/run.py` builds the inputs, launches this and prints the
  * result line.
  *
  * Arguments (all `--key value`): workload, seed, work, result, trace
  * (0|1); `data` for etl_batch/stream_ingest; `tier`, `order` and
  * `expected` for query_surface; `spans` for a traced run. */
object Main {
  /** Spark runs on `local[nproc]`. */
  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The family objects of `SparkEntry.queries`, for per-family attribution.
    * Lazy, so their initialisation falls in a set-up, not before it. */
  lazy val families: Seq[(String, Set[String])] = {
    import graft.queries._
    Seq(
      "RelationalQueries" -> RelationalQueries.all.keySet,
      "ScalarQueries" -> ScalarQueries.all.keySet,
      "WindowQueries" -> WindowQueries.all.keySet,
      "TextQueries" -> TextQueries.all.keySet,
      "SimilarityQueries" -> SimilarityQueries.all.keySet,
      "ExtendedRelationalQueries" -> ExtendedRelationalQueries.all.keySet,
      "TpchQueries" -> TpchQueries.all.keySet,
      "FunctionQueries" -> FunctionQueries.all.keySet,
      "PipelineQueries" -> PipelineQueries.all.keySet,
      "CorpusQueries" -> CorpusQueries.all.keySet,
      "StreamingQueries" -> StreamingQueries.all.keySet,
      "SelectionQueries" -> SelectionQueries.all.keySet,
      "AnalyticsQueries" -> AnalyticsQueries.all.keySet)
  }

  /** The CPU probe `Bench` records: a fixed in-memory aggregate. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 150000000L, 1L, 32).selectExpr("sum(id % 7 + id * 3)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val workload: Workload = name match {
      case "etl_batch"     => new EtlBatch(opt("data"), work)
      case "stream_ingest" => new StreamIngest(opt("data"), work)
      case "query_surface" =>
        val rows = Json.read(opt("expected")).get("rows").fields().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap
        val order = JFiles.readAllLines(Paths.get(opt("order"))).asScala.toSeq.filter(_.nonEmpty)
        new QuerySurface(opt("tier"), order, rows)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, once and cold: session build plus the workload's warm-up.
    // Repeating it in the same JVM would time warm re-set-ups, which miss
    // one-time class loading, static initialisation and first code
    // generation; the cold one is also the longer and steadier figure.
    val t0 = System.nanoTime()
    val spark = graft.util.Sessions.build(s"perfbench-$name", cpus.toString)
    val t1 = System.nanoTime()
    workload.setUp(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val buildS = (t1 - t0) / 1e9
    log(f"set-up done in $setupS%.2f s")

    val counters = if (traced) Some(new SparkCounters(cpus)) else None
    val streams = if (traced) Some(new StreamCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    streams.foreach(spark.streams.addListener)
    Trace.runId = s"$name-${opt.getOrElse("seed", "0")}"
    Trace.enabled = traced
    val o = new Outcome
    try workload.run(spark, o)
    finally Trace.enabled = false
    log(f"timed region done, wall_s ${o.wallS}%.2f")
    // heap still in use once everything the timed region dropped is
    // collected: the least of three readings, each after a pause that lets
    // Spark's ContextCleaner release what the previous collection freed
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
    if (traced) ListenerBus.drain(spark.sparkContext)
    val regionS = o.regions.map { case (s, e) => (e - s) / 1e9 }.sum
    val sparkTotals = counters.map(_.metrics(regionS)).getOrElse(Nil)
    // after the timed region, whose Spark totals are taken: run before it,
    // the probe slowed the region's first operation
    val calibration = calibrate(spark)

    try workload.verify(spark, o, counters)
    catch {
      case e: Exception =>
        o.attempted += 1
        o.failures += s"output check failed: ${e.getMessage}"
    }

    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> o.wallS,
      "rows_per_s" -> o.rows / o.rowsTimeS,
      "heap_retained_mb" -> heapMb,
      "success_rate" -> (1.0 - o.failures.size.toDouble / math.max(o.attempted, 1)))

    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val spans = Trace.spans
      def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
      layer("util.session_build_s") = buildS
      layer("util.scrub_s") = total("util.scrub")
      layer("queries.build_s") = total("queries.build")
      counters.foreach { c =>
        layer("queries.build_jobs") =
          c.jobsStartedIn(spans.filter(_.name == "queries.build").map(s => (s.start, s.end))).toDouble
        layer("exec.s") = o.regions.map { case (s, e) => c.jobSeconds(s, e) }.sum
      }
      families.foreach { case (f, keys) =>
        layer(s"family.$f.s") = spans.filter(s => s.name.startsWith("queries.run.") &&
          keys(s.name.stripPrefix("queries.run."))).map(_.seconds).sum
      }
      layer("catalyst.plan_s") = total("catalyst.plan")
      sparkTotals.foreach { case (k, v) => layer(k) = v }
      layer("ops.extract_s") = total("ops.extract")
      layer("ops.transform_build_s") = total("ops.transform_build")
      graft.schema.CallDataSchema.starTables.foreach { case (t, _) =>
        layer(s"ops.load.${t}_s") = total(s"ops.load.$t")
      }
      streams.foreach { s =>
        Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")
          .foreach(p => layer(s"stream.${p}_ms") = Stats.median(s.phases.getOrElse(p, Nil).toSeq))
      }
      layer("stream.sink_write_ms") =
        Stats.median(spans.filter(_.name == "stream.sink_write").map(_.seconds * 1e3))
      Seq("snapshot", "count", "group", "point").foreach { p =>
        layer(s"serve.${p}_s") = total(s"serve.$p")
      }
      val accounts = o.regions.map { case (s, e) => Trace.account(s, e) }
      layer("trace.wall_s") = regionS
      layer("trace.uncovered_s") = accounts.map(_._2).sum
      Seq("util", "ops", "stream", "serve", "queries", "catalyst", "exec").foreach { l =>
        layer(s"self.${l}_s") = accounts.map(_._1.getOrElse(l, 0.0)).sum
      }
      opt.get("spans").foreach(p => Trace.writeJsonl(Paths.get(p)))
    }
    // per operation: an ETL run, a micro-batch or a query
    layer("op.p50_ms") = Stats.median(o.opMs.toSeq)
    layer("op.samples") = o.opMs.size.toDouble
    o.layer.foreach { case (k, v) => layer(k) = v }
    layer("box.calibration_s") = calibration

    log("outputs checked")
    val record = Json.obj(Seq(
      "workload" -> name,
      "attempted" -> o.attempted,
      "failed" -> o.failures.size.toLong,
      "failures" -> o.failures.toSeq,
      "end_to_end" -> e2e.toMap,
      "per_layer" -> layer.toMap,
      "op_ms" -> o.opMs.toSeq))
    JFiles.write(Paths.get(opt("result")), (record + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
