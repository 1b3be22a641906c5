package graft.transforms

import graft.functions.GraftRoundOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input normalization: join-key rounding and epoch-ns → date/step
  * derivations.
  *
  * Semantics (reference: databricks/glofas-forecast-computation.py:124-132):
  *  - `latitude`/`longitude` rounded to `precision` decimals (HALF_UP).
  *    This is load-bearing — every downstream join is an equality on the
  *    rounded doubles; unrounded keys silently produce empty joins
  *    (pinned by reference test test_spark_transforms.py:55-84).
  *    The rounding runs through [[graft.functions.GraftRoundOps.round]]:
  *    bit-identical to Spark's `round` (same HALF_UP decimal semantics,
  *    type and nullability, proved in `GraftRoundOpsSpec`), but without a
  *    `BigDecimal` per row on the values that are not near a tie.
  *  - `issued_on` = date of `time` (ns since epoch).
  *  - `step` ns → whole days as Int.
  *  - `valid_for` = date of `valid_time` minus one day (the 24h-mean
  *    discharge labelled T covers the day ending at T).
  */
object Normalize {

  /** Round the spatial join keys. Applied to every table before any join. */
  def roundKeys(df: DataFrame, precision: Int): DataFrame =
    df.withColumn("latitude", GraftRoundOps.round(col("latitude"), precision))
      .withColumn("longitude", GraftRoundOps.round(col("longitude"), precision))

  /** Full raw-forecast normalization: key rounding + time derivations +
    * NA-drop of masked-out discharge (the upstream mask writes NaN→null
    * rows; reference: flood/etl/raster_converter.py:44-45,73-75). */
  def forecast(raw: DataFrame, precision: Int): DataFrame =
    roundKeys(raw, precision)
      .na.drop(Seq("dis24"))
      .withColumn("issued_on", to_date(timestamp_seconds(col("time") / 1e9)))
      .drop("time")
      .withColumn("step", (col("step") / lit(24L * 3600 * 1000 * 1000 * 1000)).cast("int"))
      .withColumn("valid_time", to_date(timestamp_seconds(col("valid_time") / 1e9)))
      .withColumn("valid_for", date_sub(col("valid_time"), 1))
      .drop("valid_time")

  /** Decoded GRIB cells (the [[graft.sources.GribSource]] schema:
    * latitude, longitude, number, step_hours, ref_time, value) → the
    * normalized forecast shape, skipping the reference's GRIB→xarray→
    * pandas→parquet conversion hop entirely. Bitmap-missing cells (NULL
    * value) are dropped — the same dropna the raster converter applies
    * (flood/etl/raster_converter.py:44-45) — so exceedance averages count
    * only observed members. Works identically on batch and STREAMING
    * DataFrames (all expressions are stateless). */
  def fromGrib(grib: DataFrame, precision: Int): DataFrame =
    fromGrib(grib, precision, keepStepHours = false)

  /** `keepStepHours = true` passes the raw `step_hours` ATTRIBUTE through
    * unchanged (not re-derived), so a scan-reported clustering on it
    * ([[graft.sources.GribSource]] `partitionByStep`) survives this
    * projection — alias-aware partitioning propagation tracks attributes,
    * never derived expressions like `step`. Downstream drops the column
    * after its grouping uses it. */
  def fromGrib(grib: DataFrame, precision: Int, keepStepHours: Boolean): DataFrame = {
    val issued = to_date(to_timestamp(col("ref_time")))
    // int, matching [[forecast]]'s step type — both producers of the
    // normalized shape must agree or mixed parquet datasets fail to merge
    val stepDays = (col("step_hours") / lit(24)).cast("int")
    val cols = Seq(
      col("number").cast("long").as("number"),
      GraftRoundOps.round(col("latitude"), precision).as("latitude"),
      GraftRoundOps.round(col("longitude"), precision).as("longitude"),
      issued.as("issued_on"),
      stepDays.as("step"),
      date_add(issued, stepDays - 1).as("valid_for"),
      col("value").as("dis24")) ++
      (if (keepStepHours) Seq(col("step_hours")) else Nil)
    grib
      .na.drop(Seq("value"))
      .select(cols: _*)
  }
}
