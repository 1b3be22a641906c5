package graft.transforms

import graft.functions.GraftRoundOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's packed grid-cell join key: ONE BIGINT from the two
  * rounded (latitude, longitude) doubles.
  *
  * Every per-cell join in the pipeline keys on the rounded coordinates
  * (reference: the `round(col, 3)` key normalization,
  * flood/spark/transforms.py:41-84). Joining on the pair of doubles makes
  * Spark build the generic multi-field UnsafeRow hash relation; packing
  * the pair into one long lets it build a `LongHashedRelation` — a
  * primitive-array map — measured **10× faster to probe** on the 985 M-row
  * operational day (131 s → 13 s for the identical threshold join,
  * BASELINE.md round-12 profile).
  *
  * Exactness: `round(c·10⁶)` recovers the decimal exactly for coordinates
  * with ≤6 decimal places (the engine normalizes to 3; same
  * integer-recovery trick as [[Geometry.cellIndex]]), and the packing
  * `(latM + 90·10⁶) · (360·10⁶ + 1) + (lonM + 180·10⁶)` is bijective on
  * the rounded grid — two cells collide only if their coordinates differ
  * beyond 6 decimals, which the normalization contract excludes. A NULL
  * coordinate yields a NULL key, which never equi-joins — exactly the
  * NULL behavior of the two-column join it replaces.
  *
  * The `round(c·10⁶)` is [[graft.functions.GraftRoundOps.round]] at scale
  * 0: it takes the nearest integer of the product directly and calls
  * Spark's `BigDecimal` rounding only within a few ulps of a .5 tie, and
  * `GraftRoundOpsSpec` proves it bit-identical to Spark's `round`, so the
  * packed keys are unchanged. */
object CellKey {

  def pack(lat: Column, lon: Column): Column =
    (GraftRoundOps.round(lat * 1000000, 0).cast("long") + 90000000L) * 360000001L +
      (GraftRoundOps.round(lon * 1000000, 0).cast("long") + 180000000L)

  /** Equi-join `left` with the per-cell dimension `right` on the packed
    * key. `left` keeps its (latitude, longitude) columns; `right`'s are
    * dropped — output columns are identical to
    * `left.join(right, Seq("latitude", "longitude"), how)`. Hints on
    * either input (e.g. `broadcast(right)`) survive: the key projection
    * wraps above them. */
  def join(left: DataFrame, right: DataFrame, how: String): DataFrame =
    left
      .withColumn("__graft_cell", pack(col("latitude"), col("longitude")))
      .join(
        right
          .withColumn("__graft_cell", pack(col("latitude"), col("longitude")))
          .drop("latitude", "longitude"),
        Seq("__graft_cell"), how)
      .drop("__graft_cell")
}
