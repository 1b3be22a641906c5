package graft.transforms

import graft.config.Roi
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upstream-drainage-area masking and region-of-interest slicing — the
  * engine-side formulation of the reference's raster operations.
  *
  * The reference masks the discharge raster with
  * `dis24.where(uparea >= threshold)` after aligning the global upstream
  * grid to the forecast grid with a nearest-neighbor reindex
  * (reference: flood/etl/filter_by_upstream.py:12-28). Both grids are
  * regular 0.05° lattices, so "nearest" reduces to snapping both sides to
  * the same cell key and equi-joining — no range join needed (SURVEY §2.3
  * J7). The mask-then-drop-NaN sequence is a semi-join: only cells with
  * qualifying drainage area survive.
  */
object UpstreamFilter {

  /** Restrict to the region of interest, with a buffer margin. The
    * reference slices descending-latitude rasters (flood/etl/utils.py:16-19);
    * in relational form that is just a pair of between-predicates, pushed
    * to the Parquet scan by Catalyst.
    */
  def restrictArea(df: DataFrame, roi: Roi, buffer: Double): DataFrame =
    df.filter(
      col("latitude").between(roi.latMin - buffer, roi.latMax + buffer) &&
        col("longitude").between(roi.lonMin - buffer, roi.lonMax + buffer))

  /** Keep only discharge rows whose grid cell has upstream drainage area
    * >= `threshold` m². `uparea` must carry (latitude, longitude, uparea).
    *
    * Formulated as a left-semi join on cell-snapped keys: the dimension
    * side is filtered first and carries an explicit `broadcast()` hint
    * (on the global 0.05° grid the qualifying cells are a few hundred
    * thousand rows), so the fact side never shuffles for this join,
    * whatever `autoBroadcastJoinThreshold` the session runs with — the
    * same posture as [[graft.pipeline.ForecastPipeline.run]]'s threshold
    * and control joins. No uparea column survives, matching the
    * reference's mask + dropna (flood/etl/raster_converter.py:44-45).
    */
  def apply(
      discharge: DataFrame,
      uparea: DataFrame,
      threshold: Double,
      resolution: Double,
      precision: Int
  ): DataFrame = {
    def snapped(df: DataFrame): DataFrame =
      df.withColumn("cell_lat", Geometry.snapToCellCenter(col("latitude"), resolution, precision))
        .withColumn("cell_lon", Geometry.snapToCellCenter(col("longitude"), resolution, precision))

    val qualifying = snapped(uparea)
      .filter(col("uparea") >= threshold)
      .select("cell_lat", "cell_lon")

    snapped(discharge)
      .join(broadcast(qualifying), Seq("cell_lat", "cell_lon"), "left_semi")
      .drop("cell_lat", "cell_lon")
  }
}
