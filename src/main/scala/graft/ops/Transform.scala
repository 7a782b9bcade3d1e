package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.To24Hour.to_24h
import graft.schema.CallDataSchema._

/** The reference's 12-step transform chain (`transform.py:210-223`), each step
  * a named `DataFrame => DataFrame` in execution order (SURVEY §2.2/§2.3/§2.5).
  *
  * Differences from the reference, all behavior-preserving:
  *   - E1 runs as the native [[graft.expr.To24Hour]] Catalyst expression, not
  *     a Python UDF — same passthrough-on-parse-failure semantics, but the
  *     projection stays in whole-stage codegen (the reference pays a Python
  *     worker round-trip per row, SURVEY §3.1).
  *   - the 14 timestamp conversions, the E3 merges and the five key
  *     aliases are each one `withColumns` projection, not a `withColumn`
  *     fold, so analysis builds one Project per step instead of one per
  *     column for CollapseProject to fuse later (SURVEY §4).
  *   - surrogate keys offer a deterministic variant (SURVEY §7.3).
  */
object Transform {

  /** E1+E2+P4 (`transform.py:41-68`): event_date substring of the *raw*
    * string, then AM/PM→24h + to_timestamp over all 14 timestamp columns. */
  def processTimestamps(df: DataFrame): DataFrame = {
    val converted = timestampColumns.filter(df.columns.contains)
      .map(c => c -> to_timestamp(to_24h(col(c)), "MM/dd/yyyy HH:mm:ss"))
    df.withColumns(ListMap(
      ("event_date" -> substring(col(timestampColumns.head), 1, 10)) +: converted: _*))
  }

  /** E3 (`transform.py:71-97`): six SPD/CARE first-non-null merges. */
  def mergeResponseTimes(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      responseMerges.map { case (target, a, b) => target -> coalesce(col(a), col(b)) }: _*))

  /** P2 (`transform.py:99-110`): drop merged agency pairs + geo columns. */
  def dropAgencyColumns(df: DataFrame): DataFrame =
    df.drop(columnsToDrop: _*)

  /** E7 (`transform.py:112-117`): unit_id = dispatch id minus the event
    * number — regexp_replace with a per-row Column pattern (digits-only, so
    * regex-injection-safe). */
  def createUnitId(df: DataFrame): DataFrame =
    df.withColumn("unit_id",
      regexp_replace(col("Call Sign Dispatch ID"),
        col("CAD Event Number").cast("string"), lit("")))

  /** P3 (`transform.py:119-128`): rename-all to snake_case. */
  def renameColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(toSnakeCase): _*)

  /** E4 (`transform.py:25-39`): two-arm conditional fill of at-scene time. */
  def fillCallSignAtSceneTime(df: DataFrame): DataFrame =
    df.withColumn("call_sign_at_scene_time",
      when(col("first_response_at_scene_time") > col("call_sign_dispatch_time") &&
           col("call_sign_at_scene_time").isNull,
        col("first_response_at_scene_time"))
      .when(col("call_sign_at_scene_time").isNull, col("call_sign_dispatch_time"))
      .otherwise(col("call_sign_at_scene_time")))

  /** P6 (`transform.py:134-136`): constant fills. */
  def fillMissingValues(df: DataFrame): DataFrame =
    df.na.fill(Map("dispatch_sector" -> "UNKNOWN", "priority" -> -1))

  /** P5 (`transform.py:130-132`): drop rows with null arrival time. */
  def dropNullArrivalTimes(df: DataFrame): DataFrame =
    df.na.drop(Seq("cad_event_arrived_time"))

  /** P7+J1 (`transform.py:138-143`): remove *all* dispatches of any event
    * with ≥1 null in-service time. The distinct null-key set is small →
    * Catalyst broadcasts it (BroadcastHashJoin LeftAnti); the big side never
    * shuffles. */
  def filterEventsWithNullInServiceTime(df: DataFrame): DataFrame = {
    val eventsWithNulls = df
      .filter(col("call_sign_in_service_time").isNull)
      .select("cad_event_number")
      .distinct()
    df.join(eventsWithNulls, Seq("cad_event_number"), "left_anti")
  }

  /** E6 (`transform.py:145-154`): recompute null response time as epoch-second
    * difference at-scene minus queued. */
  def fillCallSignResponseTime(df: DataFrame): DataFrame =
    df.withColumn("call_sign_response_time_s",
      when(col("call_sign_response_time_s").isNull,
        unix_timestamp(col("call_sign_at_scene_time")) -
          unix_timestamp(col("cad_event_original_time_queued")))
      .otherwise(col("call_sign_response_time_s")))

  /** E5+E6 (`transform.py:172-194`): fill first_response_at_scene_time by the
    * same two-arm rule, then recompute null first_response_time_s. (The twin
    * `fill_first_response_at_scene_time` at transform.py:156-170 is dead code
    * — never called — and is intentionally not reimplemented; SURVEY §2.9.3.) */
  def fillFirstResponseTime(df: DataFrame): DataFrame =
    df.withColumn("first_response_at_scene_time",
        when(col("call_sign_at_scene_time") > col("call_sign_dispatch_time") &&
             col("first_response_at_scene_time").isNull,
          col("call_sign_at_scene_time"))
        .when(col("first_response_at_scene_time").isNull, col("call_sign_dispatch_time"))
        .otherwise(col("first_response_at_scene_time")))
      .withColumn("first_response_time_s",
        when(col("first_response_time_s").isNull,
          unix_timestamp(col("first_response_at_scene_time")) -
            unix_timestamp(col("cad_event_original_time_queued")))
        .otherwise(col("first_response_time_s")))

  /** E9 (`transform.py:197-208`): five surrogate keys.
    *
    * Parity mode (default): `monotonically_increasing_id` five times — all
    * five ids share one value per row (partition-offset ids, the reference's
    * observable quirk, SURVEY §2.9.2). O(1) per row, no shuffle — the right
    * call at 100 TB.
    *
    * Deterministic mode: row_number over a stable key minus 1 — needed when
    * downstream wants reproducible ids (oracle checks). Single-partition
    * window: only for dimension-scale data. */
  def addSurrogateKeys(df: DataFrame, deterministic: Boolean = false): DataFrame = {
    val skCols = Seq("dim_care_spd_id", "dim_co_response_id", "dim_cad_event_id",
      "dim_location_id", "dim_call_sign_id")
    val id =
      if (deterministic)
        row_number().over(
          Window.orderBy("cad_event_number", "call_sign_dispatch_id")).cast("long") - 1
      else monotonically_increasing_id()
    // One shared id column, aliased five ways — same observable result as the
    // reference's five monotonically_increasing_id calls, evaluated once.
    df.withColumn("__sk", id)
      .withColumns(ListMap(skCols.map(_ -> col("__sk")): _*))
      .drop("__sk")
  }

  /** P9 (`transform.py:226-234`): post-transform validation. */
  def requireColumns(df: DataFrame, cols: Seq[String]): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Required columns missing after transformations: ${missing.mkString(", ")}")
  }

  /** `transform_data` (`transform.py:210-236`): the full chain, in order. */
  def transformData(df: DataFrame, deterministicKeys: Boolean = false): DataFrame = {
    val out = Seq[DataFrame => DataFrame](
      processTimestamps,
      mergeResponseTimes,
      dropAgencyColumns,
      createUnitId,
      renameColumns,
      fillCallSignAtSceneTime,
      fillMissingValues,
      dropNullArrivalTimes,
      filterEventsWithNullInServiceTime,
      fillCallSignResponseTime,
      fillFirstResponseTime,
      addSurrogateKeys(_, deterministicKeys)
    ).foldLeft(df)((acc, step) => step(acc))
    requireColumns(out, requiredTransformedColumns)
    out
  }
}
