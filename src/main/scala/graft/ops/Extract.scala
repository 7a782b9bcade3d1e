package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch CSV source (SURVEY §2.1 S1-S3; reference `extract.py:29-119`). The
  * reference's S4 raw-scan persist is moved post-transform, into
  * [[Load.saveStarSchema]]. */
object Extract {

  /** S1: sampled schema inference — a schema-only pass over the file
    * (`extract.py:51-57`). Prefer [[graft.schema.CallDataSchema.csvSchema]]
    * for deterministic production runs; this exists for inference parity. */
  def inferSchema(spark: SparkSession, path: String, sampleRatio: Double = 0.01): StructType =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("samplingRatio", sampleRatio.toString)
      .csv(path)
      .schema

  /** S2+S3: typed CSV read with malformed-row drop (`extract.py:61-73`).
    *
    * `maxRows`: the reference sets a `maxRows` CSV option that Spark silently
    * ignores (SURVEY §2.9.1) — we implement the *intent* with `limit(n)`.
    * nullValue/nanValue "" make empty fields NULL, which the downstream fill
    * rules depend on. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              maxRows: Option[Int] = None): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .option("encoding", "UTF-8")
      .option("nullValue", "")
      .option("nanValue", "")
      .csv(path)
    maxRows.fold(df)(df.limit)
  }

  /** S1+S2 composed, the reference's two-pass flow (`safe_extract`). */
  def extract(spark: SparkSession, path: String,
              sampleRatio: Double = 0.01, maxRows: Option[Int] = None): DataFrame =
    readCsv(spark, path, inferSchema(spark, path, sampleRatio), maxRows)

  /** JSONL source — the line-delimited-JSON format web-scale corpora
    * actually ship in (one document object per line, usually gzip or
    * zstd compressed; a training-data extension, no reference analogue).
    * Compression resolves from the file extension through the Hadoop
    * codec registry — gzip/bzip2/lz4 out of the box here (zstd text
    * codecs need the Hadoop NATIVE build, absent in this sandbox; where
    * present, .zst files read through the same path untouched). Gzip
    * input is NOT splittable — each .gz shard is one task — so at 100 TB
    * the standard corpus layout (many medium one-shard files)
    * parallelizes by FILE COUNT: shard sizing is the parallelism knob,
    * not record count.
    *
    * Always pass the schema: inference reads the whole input once. The
    * read is text + `from_json` rather than the json file source's
    * PERMISSIVE `_corrupt_record` — the file source's internal corrupt
    * column cannot be queried on its own from raw files
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN; the
    * documented workaround is caching the corpus, wrong at 100 TB) —
    * while `from_json` over a text column carries the same corrupt-record
    * contract with no such restriction. Malformed lines surface in
    * `j._corrupt_record`; [[jsonlCorrupt]] splits clean rows from the
    * quarantine. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    val parseSchema = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .select(col("value"), from_json(col("value"), parseSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
  }

  /** Clean/quarantine split of a [[readJsonl]] frame: (parsed rows in the
    * caller's schema, unparseable raw lines). Blank/whitespace-only lines
    * parse to a NULL STRUCT with no corrupt record (from_json's empty-input
    * behavior) — they quarantine too, not pass as phantom all-null rows
    * (common in concatenated dumps with double-newline separators). */
  def jsonlCorrupt(df: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val bad = col("j").isNull || col("j._corrupt_record").isNotNull
    (df.filter(!bad).select("j.*").drop("_corrupt_record"),
      df.filter(bad).select(col("value").as("raw_line")))
  }

  /** ORC sink/source twins (engine addition — the reference is CSV/parquet
    * only, but a 100 TB estate is rarely single-format and ORC is the
    * columnar layout much of the Hive world still writes). Wired through
    * Spark's declarative scan path exactly like parquet, so predicate
    * pushdown and column pruning reach the ORC reader — `PushedFilters` /
    * a pruned `ReadSchema` in the scan, spec-asserted — and the format
    * round-trip is oracle-gated for value parity (`q_orc_ingest`: the
    * engine aggregates ORC, DuckDB aggregates the same rows from parquet;
    * a hash match proves the writer+reader lose nothing). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** P8/P9 (`extract.py:121-147`): data-quality validation. Note the
    * reference defines but never calls this from main (SURVEY §5) — we wire
    * it into the pipeline for real. */
  def validate(df: DataFrame, requiredColumns: Seq[String]): Unit = {
    require(!df.isEmpty, "extracted DataFrame is empty")
    val missing = requiredColumns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
  }
}
