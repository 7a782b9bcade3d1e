package graft.ops

import java.util.concurrent.{ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.schema.CallDataSchema.starTables

/** Star-schema sink (SURVEY §2.1 S5-S7; reference `load.py:95-240`). */
object Load {

  /** Generic sink contract — the reference has two concrete sinks (local
    * Parquet and Snowflake `COPY INTO`); the external one can't run here so
    * it's modeled behind this trait (SURVEY §7.4.5). `write` returns the row
    * count the sink's own verify step observed (`load.py:86-88,188-192`).
    * [[saveStarSchema]] calls `write` concurrently, once per star table, so
    * an implementation must accept concurrent calls for different tables. */
  trait TableSink {
    def write(df: DataFrame, tableName: String): Long
  }

  /** The S6 verify step of both parquet sinks, as the reference does it
    * (`utils/helpers.py:17-23`): read the footer of each data file in `dir`
    * on the driver, require its top-level field names to equal `columns`,
    * and return the summed record counts. No Spark job runs; a
    * `spark.read.parquet(dir).count()` would start a schema-merge job and a
    * two-stage count to read the same footers, and would not check columns. */
  private[ops] def footerRows(spark: SparkSession, dir: String, columns: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) throw new IllegalStateException(s"no parquet data file in $dir")
    files.iterator.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val got = reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
        if (got != columns)
          throw new IllegalStateException(
            s"${f.getPath} has columns ${got.mkString(", ")}; expected ${columns.mkString(", ")}")
        reader.getRecordCount
      } finally reader.close()
    }.sum
  }

  /** S5+S6: per-table single-file Parquet write + footer verification
    * (`load.py:182-192`, `utils/helpers.py:17-23`). `coalesce(1)` mirrors the
    * reference's intentional one-file-per-table output — correct for
    * BI-tool-sized dims; for fact tables at 100 TB scale pass coalesce=None
    * and let the write stay parallel. */
  class ParquetSink(spark: SparkSession, outDir: String,
                    coalesceTo: Option[Int] = Some(1)) extends TableSink {
    def write(df: DataFrame, tableName: String): Long = {
      val dir = s"$outDir/${tableName}_parquet"
      coalesceTo.fold(df)(df.coalesce).write.mode("overwrite").parquet(dir)
      footerRows(spark, dir, df.columns.toSeq)
    }
  }

  /** S7 stand-in: the Snowflake path (PUT → INFER_SCHEMA/TEMPLATE → COPY INTO
    * → COUNT verify, `load.py:12-88`) reduced to its observable contract — an
    * append-style write plus count verification — implemented as a second
    * parquet directory sink. A production deployment would swap in a JDBC
    * writer behind the same trait. */
  class WarehouseSink(spark: SparkSession, outDir: String) extends TableSink {
    def write(df: DataFrame, tableName: String): Long = {
      val dir = s"$outDir/warehouse/$tableName"
      df.write.mode("overwrite").parquet(dir)
      footerRows(spark, dir, df.columns.toSeq)
    }
  }

  /** S7 with running code: a real JDBC writer behind the same trait —
    * write + read-back count verification, the observable contract of the
    * reference's Snowflake `COPY INTO` + `COUNT(*)` step (`load.py:54-88`).
    * Exercised in tests against embedded Derby (the one JDBC engine the
    * runtime ships); production swaps `url`/`driver` for the warehouse's
    * JDBC endpoint without touching callers. */
  class JdbcSink(spark: SparkSession, url: String,
                 driver: String = "org.apache.derby.jdbc.EmbeddedDriver") extends TableSink {
    private def props = {
      val p = new java.util.Properties
      p.setProperty("driver", driver)
      p
    }
    def write(df: DataFrame, tableName: String): Long = {
      df.write.mode("overwrite").jdbc(url, tableName, props)
      spark.read.jdbc(url, tableName, props).count()
    }
  }

  /** P1 (`load.py:177-185`): project + write each of the six star tables.
    *
    * Deviation (improvement) from the reference, documented in SURVEY §3.1:
    * the reference persists only the *raw* CSV scan, so its 12-step transform
    * chain recomputes once per table write (6×). We persist the transformed
    * rows once before fanning out the six projections.
    *
    * The reference writes the tables one after another; here all six
    * `sink.write` calls run at once, one thread per table on a pool owned by
    * this call. The transformed rows are persisted with
    * `localCheckpoint(eager = false)`, which runs the plan's broadcast stages
    * but does not fill the rows: the six write jobs meet on its partitions, and Spark's block locks let one task compute
    * each partition while the others wait for it and read it, so no extra
    * action fills the cache. (A `persist`ed frame would not do: adaptive
    * execution plans each scan of a cached relation as a stage of its own,
    * so every write planned before the cache is loaded starts one more fill
    * job, up to six depending on timing.) The local checkpoint cuts the
    * lineage after the first write, so a lost block fails the writes rather
    * than being recomputed; on the reference's single-node job none is lost.
    *
    * The call waits for all six writes, whatever their outcome, before it
    * unpersists, so no job of this call outlives it; then it rethrows the
    * failure of the first failed table in `starTables` order, with any
    * other failures attached as suppressed exceptions.
    */
  def saveStarSchema(df: DataFrame, sink: TableSink): Map[String, Long] = {
    val filled = df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
    val rows = filled.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    val pool = Executors.newFixedThreadPool(starTables.size)
    try {
      val pending = starTables.map { case (name, cols) =>
        name -> pool.submit[Long](() => sink.write(filled.select(cols.map(col): _*), name))
      }
      val outcomes = pending.map { case (name, f) =>
        name -> Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
      }
      outcomes.collect { case (_, Failure(e)) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map { case (name, n) => name -> n.get }.toMap
      }
    } finally {
      pool.shutdown()
      rows.foreach(_.unpersist())
    }
  }

  /** The full batch pipeline (`main.py:6-29`): E → T → L. */
  def runBatch(spark: SparkSession, csvPath: String, outDir: String,
               declaredSchema: Boolean = true): Map[String, Long] = {
    val schema =
      if (declaredSchema) graft.schema.CallDataSchema.csvSchema
      else Extract.inferSchema(spark, csvPath)
    val raw = Extract.readCsv(spark, csvPath, schema)
    Extract.validate(raw, graft.schema.CallDataSchema.requiredRawColumns)
    val transformed = Transform.transformData(raw)
    saveStarSchema(transformed, new ParquetSink(spark, outDir))
  }
}
