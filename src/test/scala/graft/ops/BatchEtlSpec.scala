package graft.ops

import java.nio.file.Files

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.CallDataSchema

/** Golden-fixture pipeline test (SURVEY §5.5): the committed miniature
  * Call_Data.csv exercises every fill/drop/join rule in `transform.py`. */
class BatchEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fixture = getClass.getResource("/call_data_mini.csv").getPath

  private lazy val raw =
    Extract.readCsv(spark, fixture, CallDataSchema.csvSchema)
  private lazy val transformed = Transform.transformData(raw)

  test("extract reads all 9 fixture rows with declared schema") {
    assert(raw.count() == 9)
    Extract.validate(raw, CallDataSchema.requiredRawColumns)
  }

  test("schema inference (S1) types the key columns like the reference") {
    val inferred = Extract.inferSchema(spark, fixture, sampleRatio = 1.0)
    val byName = inferred.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(byName("CAD Event Number") == "long" || byName("CAD Event Number") == "integer")
    assert(byName("Call Type") == "string")
    assert(byName("CAD Event Original Time Queued") == "string") // AM/PM strings don't infer as timestamp
  }

  test("null-arrival row and null-in-service event are removed (P5 + J1): 9 -> 6 rows") {
    // R4 dropped (null arrival); R5+R6 both dropped (event 2023000005 anti-join)
    val events = transformed.select("cad_event_number").collect().map(_.getLong(0)).sorted
    assert(events.toSeq == Seq(2023000001L, 2023000002L, 2023000003L,
      2023000006L, 2023000007L, 2023000008L))
  }

  test("columns are snake_case and agency/geo columns are dropped (P2+P3)") {
    val cols = transformed.columns.toSet
    assert(cols.contains("cad_event_number"))
    assert(cols.contains("call_sign_response_time_s")) // "(s)" -> "s"
    assert(!cols.exists(_.contains(" ")))
    assert(!cols.contains("dispatch_longitude") && !cols.contains("first_spd_call_sign_at_scene_time"))
  }

  test("PM timestamps convert via To24Hour -> to_timestamp (E1+E2)") {
    val r1 = transformed.filter(col("cad_event_number") === 2023000001L)
      .select(date_format(col("cad_event_original_time_queued"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(r1 == "2023-01-15 13:00:00")
  }

  test("non-zero-padded hour converts through the lenient rewrite (E1, transform.py:12-16)") {
    // '1:45:00 PM' → '13:45:00': the reference's split-and-rewrite accepts
    // it; a strict strptime would passthrough and the row would lose its
    // queued timestamp in to_timestamp
    val r9 = transformed.filter(col("cad_event_number") === 2023000008L)
      .select(date_format(col("cad_event_original_time_queued"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(r9 == "2023-01-15 13:45:00")
  }

  test("12:xx AM edge parses to hour 00 and at-scene fills from first_response (E1+E4)") {
    val r2 = transformed.filter(col("cad_event_number") === 2023000002L)
      .select(
        date_format(col("cad_event_original_time_queued"), "HH:mm:ss"),
        date_format(col("call_sign_at_scene_time"), "yyyy-MM-dd HH:mm:ss"),
        col("call_sign_response_time_s"))
      .head()
    assert(r2.getString(0) == "00:05:30")
    assert(r2.getString(1) == "2023-01-16 00:30:00") // filled from First SPD at-scene
    // recomputed: 00:30:00 - 00:05:30 = 1470 s (E6 fill; the when-branch's
    // unix_timestamp diff widens the int column to long, as in the reference)
    assert(r2.getLong(2) == 1470L)
  }

  test("at-scene falls back to dispatch time when first_response is null (E4 arm 2)") {
    val r3 = transformed.filter(col("cad_event_number") === 2023000003L)
      .select(
        date_format(col("call_sign_at_scene_time"), "yyyy-MM-dd HH:mm:ss"),
        col("priority"), col("dispatch_sector"))
      .head()
    assert(r3.getString(0) == "2023-01-15 13:05:00") // dispatch time
    assert(r3.getInt(1) == -1)                        // fillna priority
    assert(r3.getString(2) == "UNKNOWN")              // fillna sector
  }

  test("SPD/CARE coalesce picks CARE when SPD is null (E3)") {
    val r7 = transformed.filter(col("cad_event_number") === 2023000006L)
      .select(
        date_format(col("first_response_at_scene_time"), "yyyy-MM-dd HH:mm:ss"),
        col("total_service_time_s"), col("first_response_time_s"))
      .head()
    assert(r7.getString(0) == "2023-01-15 13:17:00") // CARE at-scene
    assert(r7.getInt(1) == 3100)                      // CARE total (listed first in merge)
    assert(r7.getLong(2) == 860L)                     // CARE response (E6-widened to long)
  }

  test("malformed timestamp passes through To24Hour then nulls in to_timestamp; event_date keeps raw prefix (§2.9.4)") {
    val r8 = transformed.filter(col("cad_event_number") === 2023000007L)
      .select(col("cad_event_original_time_queued"), col("event_date"))
      .head()
    assert(r8.isNullAt(0))
    assert(r8.getString(1) == "not a real") // substring(raw, 1, 10) of the garbage
  }

  test("unit_id strips the event number from the dispatch id (E7)") {
    val ids = transformed.select("unit_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids == Set("-E1"))
  }

  test("all five surrogate key columns share one value per row (E9 parity quirk §2.9.2)") {
    val rows = transformed.select("dim_care_spd_id", "dim_co_response_id",
      "dim_cad_event_id", "dim_location_id", "dim_call_sign_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vs = (0 until 5).map(r.getLong)
      assert(vs.distinct.size == 1, s"SKs differ within row: $vs")
    }
  }

  test("deterministic key mode yields dense 0..n-1") {
    val det = Transform.transformData(raw, deterministicKeys = true)
    val ids = det.select("dim_cad_event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
  }

  test("star-schema save writes six tables with exact reference column lists (P1+S5+S6)") {
    val out = Files.createTempDirectory("graft_star").toString
    val counts = Load.saveStarSchema(transformed, new Load.ParquetSink(spark, out))
    assert(counts.keySet == CallDataSchema.starTables.map(_._1).toSet)
    assert(counts.values.toSet == Set(6L)) // row-aligned vertical partitions
    CallDataSchema.starTables.foreach { case (name, cols) =>
      val written = spark.read.parquet(s"$out/${name}_parquet")
      assert(written.columns.toSeq == cols, s"$name columns mismatch")
    }
  }

  test("JDBC sink round-trips all six star tables through embedded Derby (S7)") {
    val dir = Files.createTempDirectory("graft_derby").toString
    System.setProperty("derby.system.home", dir) // keep derby.log out of cwd
    val counts = Load.saveStarSchema(transformed,
      new Load.JdbcSink(spark, s"jdbc:derby:$dir/db;create=true"))
    assert(counts.keySet == CallDataSchema.starTables.map(_._1).toSet)
    assert(counts.values.toSet == Set(6L))
  }

  test("runBatch end-to-end with declared schema") {
    val out = Files.createTempDirectory("graft_batch").toString
    val counts = Load.runBatch(spark, fixture, out)
    assert(counts("fact_call") == 6L)
  }

  test("processTimestamps is one projection over its input (E1+E2+P4)") {
    Transform.processTimestamps(raw).queryExecution.analyzed match {
      case Project(_, child) => assert(child == raw.queryExecution.analyzed)
      case other => fail(s"expected one Project over the scan, got\n$other")
    }
  }

  test("footer verification counts what a parquet re-read counts, in one file or several (S6)") {
    val out = Files.createTempDirectory("graft_footer").toString
    val df = transformed.repartition(3)
    for ((coalesceTo, files) <- Seq(Some(1) -> 1, None -> 3)) {
      val name = s"files_$files"
      val n = new Load.ParquetSink(spark, out, coalesceTo).write(df, name)
      val dir = s"$out/${name}_parquet"
      assert(new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet")) == files)
      assert(n == spark.read.parquet(dir).count())
      assert(n == 6L)
    }
    // an empty frame still leaves one data file, with the schema and no rows
    assert(new Load.ParquetSink(spark, out).write(df.limit(0), "empty") == 0L)
  }

  test("footer verification rejects a data file whose columns differ from the frame's (S6)") {
    val dir = Files.createTempDirectory("graft_footer_cols").toString + "/t"
    val fact = CallDataSchema.starTables.head._2
    transformed.select(fact.map(col): _*).write.parquet(dir)
    assert(Load.footerRows(spark, dir, fact) == 6L)
    transformed.select("cad_event_number").write.mode("append").parquet(dir)
    val e = intercept[IllegalStateException](Load.footerRows(spark, dir, fact))
    assert(e.getMessage.contains("has columns cad_event_number;"))
  }

  test("a failing table write is rethrown after the other writes end, and the persisted rows are released") {
    // the first table fails at once, so a call that returned on the first
    // failure would leave the other five writes unfinished
    val out = Files.createTempDirectory("graft_star_fail").toString
    val parquet = new Load.ParquetSink(spark, out)
    val boom = new RuntimeException("fact_call sink is down")
    val sink = new Load.TableSink {
      def write(df: DataFrame, tableName: String): Long =
        if (tableName == "fact_call") throw boom else parquet.write(df, tableName)
    }
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val thrown = intercept[RuntimeException](Load.saveStarSchema(transformed, sink))
    assert(thrown eq boom)
    GraftTestBridge.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
    assert(transformed.storageLevel == StorageLevel.NONE) // and no cache-manager entry
    CallDataSchema.starTables.map(_._1).filterNot(_ == "fact_call").foreach { t =>
      assert(spark.read.parquet(s"$out/${t}_parquet").count() == 6L, t)
    }
  }

  test("runBatch starts exactly 9 Spark jobs on the fixture: no per-table re-read") {
    val sc = spark.sparkContext
    val group = "graft-runBatch-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val out = Files.createTempDirectory("graft_batch_jobs").toString
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "runBatch job count")
    try Load.runBatch(spark, fixture, out)
    finally {
      sc.clearJobGroup()
      GraftTestBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    // validate's isEmpty, the anti-join's distinct (shuffle) and broadcast,
    // one write per table; a footer check starts none
    assert(jobs.get == 9)
  }

  test("missing required column fails validation (P9)") {
    intercept[IllegalArgumentException] {
      Transform.requireColumns(raw.drop("Call Type"), Seq("Call Type"))
    }
  }

  test("jsonl source round-trips documents through gzip and bzip2; corrupt lines quarantine") {
    val spark2 = spark
    import spark2.implicits._
    val docs = graft.util.Tables.documents(spark, graft.TestSpark.sf)
      .select("doc_id", "text", "lang")
    val schema = docs.schema
    for (codec <- Seq("gzip", "bzip2")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_jsonl_$codec").toString
      docs.write.mode("overwrite").option("compression", codec).json(dir)
      val (clean, corrupt) = Extract.jsonlCorrupt(
        Extract.readJsonl(spark, dir, schema))
      assert(corrupt.count() == 0)
      assert(clean.count() == docs.count())
      // value-level round-trip, not just counts
      assert(clean.exceptAll(docs).count() == 0 && docs.exceptAll(clean).count() == 0)
    }
    // malformed AND blank lines degrade to quarantine rows, not job
    // failure and not phantom all-null clean rows (blank lines parse to a
    // NULL struct with no corrupt record — from_json's empty-input case)
    val badDir = java.nio.file.Files.createTempDirectory("graft_jsonl_bad").toString
    Seq("""{"doc_id": 1, "text": "ok", "lang": "en"}""",
      """not json at all""",
      "",
      "   ",
      """{"doc_id": "NaN-ish" """).toDF("value")
      .coalesce(1).write.mode("overwrite").text(badDir)
    val (clean, corrupt) = Extract.jsonlCorrupt(
      Extract.readJsonl(spark, badDir, schema))
    assert(clean.count() == 1 && corrupt.count() == 4)
    assert(clean.filter(col("doc_id").isNull).count() == 0)
  }
}
