package graft.transforms

import graft.functions.GraftRoundOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-cell geometry helpers: WKT polygons for GIS serving and point→cell
  * snapping for the serving-side lookup.
  *
  * Every `round` here is [[graft.functions.GraftRoundOps.round]], the
  * exact kernel: for a double it returns Spark's `round` bit for bit
  * (HALF_UP on `Double.toString`'s decimal, `+0.0` for zero) and falls back to
  * Spark's own `BigDecimal` path near a tie, so snapped keys and WKT
  * strings are unchanged; other input types keep Spark's `Round`.
  */
object Geometry {

  /** Append a `wkt` column with the cell's axis-aligned polygon.
    *
    * Semantics (reference: flood/spark/transforms.py:152-177): corners are
    * `round(lat/lon ± halfGridSize, precision)`, ring order
    * (minLon minLat, minLon maxLat, maxLon maxLat, maxLon minLat, close).
    * Golden strings pinned by test_spark_transforms.py:643-645. Pure
    * codegen'd string concat — no geometry library, no UDF.
    */
  def addWkt(df: DataFrame, halfGridSize: Double, precision: Int): DataFrame = {
    val minLat = GraftRoundOps.round(col("latitude") - halfGridSize, precision)
    val maxLat = GraftRoundOps.round(col("latitude") + halfGridSize, precision)
    val minLon = GraftRoundOps.round(col("longitude") - halfGridSize, precision)
    val maxLon = GraftRoundOps.round(col("longitude") + halfGridSize, precision)
    def pt(lon: Column, lat: Column): Column = concat(lon, lit(" "), lat)
    df.withColumn(
      "wkt",
      concat(
        lit("POLYGON (("),
        pt(minLon, minLat), lit(","),
        pt(minLon, maxLat), lit(","),
        pt(maxLon, maxLat), lit(","),
        pt(maxLon, minLat), lit(","),
        pt(minLon, minLat),
        lit("))")))
  }

  /** Snap a point coordinate to its containing grid cell's lower bound:
    * `floor(x / resolution) * resolution`, rounded to `precision`.
    * (reference: databricks/flood-api-examples.py:83-120, python-side) */
  def snapToCellFloor(c: Column, resolution: Double, precision: Int): Column =
    GraftRoundOps.round(floor(c / resolution) * resolution, precision)

  /** Snap to the cell center (the engine's canonical cell key): lower
    * bound + half a cell. Aligning both sides of a join onto cell centers
    * replaces the reference's nearest-neighbor reindex on a regular grid
    * (reference: flood/etl/filter_by_upstream.py:21-23; regular-grid
    * assumption documented in SURVEY §2.3 J7). */
  def snapToCellCenter(c: Column, resolution: Double, precision: Int): Column =
    GraftRoundOps.round(floor(c / resolution) * resolution + resolution / 2.0, precision)

  /** Integer cell index from a rounded-3 coordinate: milli-degrees
    * relative to `originDeg`, divided by the cell size in milli-degrees.
    * `round(c*1000)` recovers the exact integer (the coordinate is
    * already rounded to 3 decimals), so the whole derivation is integer
    * arithmetic — engine-portable with no float-boundary hazards. */
  def cellIndex(c: Column, originDeg: Int, cellMillideg: Int): Column =
    // origin shift keeps the dividend non-negative, so floor == truncate
    // on both engines; floor() because Spark's long / int promotes to double
    floor((GraftRoundOps.round(c * 1000, 0).cast("long") + originDeg.toLong * 1000) /
      cellMillideg).cast("long")

  /** Z-order (Morton) key: interleaves the low `bits` of the two cell
    * indices (lat bits odd, lon bits even). Sorting/range-partitioning
    * serving tables by `z` clusters BOTH spatial dimensions — a bbox scan
    * touches O(perimeter) parquet row groups instead of full latitude
    * stripes, the modern upgrade over the reference's plain
    * (lat, lon) sort (threshold-data-joining.py:120). Pure integer
    * bit-arithmetic: same values in any engine. */
  def zOrder(latIdx: Column, lonIdx: Column, bits: Int = 16): Column =
    (0 until bits).map { k =>
      shiftright(latIdx, k).bitwiseAND(lit(1L)) * (1L << (2 * k + 1)) +
        shiftright(lonIdx, k).bitwiseAND(lit(1L)) * (1L << (2 * k))
    }.reduce(_ + _)

  /** Serving-side point lookup: rows whose cell contains the point —
    * optionally the 8 neighboring cells too (reference:
    * databricks/flood-api-examples.py:195-221, geopandas intersects →
    * re-expressed as axis-aligned between-predicates, no geo lib). */
  def cellsContaining(
      df: DataFrame,
      lat: Double,
      lon: Double,
      resolution: Double,
      includeNeighbors: Boolean = false
  ): DataFrame = {
    val reach = if (includeNeighbors) 1.5 * resolution else 0.5 * resolution
    df.filter(
      col("latitude").between(lat - reach, lat + reach) &&
        col("longitude").between(lon - reach, lon + reach))
  }
}
