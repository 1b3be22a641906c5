package graft.transforms

import graft.SparkSpec
import graft.config.Roi
import scala.util.Random

/** Ground-truth masking test, following the reference's generator-based
  * construction (reference: test/test_upstream_filtering.py:17-55,
  * test/data/data_generation.py:5-98): a discharge grid with constant
  * discharge, an upstream grid that qualifies only at a known random subset
  * of cells — exactly those cells must survive. */
class UpstreamFilterSpec extends SparkSpec {
  import spark.implicits._

  test("only cells with qualifying upstream area survive the mask") {
    val res = 0.05
    val rnd = new Random(42)
    // forecast grid of 40x40 cell centers (a small analogue of the 216x236 ROI grid)
    val lats = (0 until 40).map(i => 5.725 - i * res)
    val lons = (0 until 40).map(j => 28.975 + j * res)
    val cells = for { la <- lats; lo <- lons } yield (la, lo)

    // discharge: 3 members x 2 steps per cell, constant 100.0
    val discharge = cells.flatMap { case (la, lo) =>
      for { m <- 1 to 3; s <- 1 to 2 } yield (m.toLong, la, lo, s.toLong, 100.0f)
    }.toDF("number", "latitude", "longitude", "step", "dis24")

    // upstream area: qualifying only at 25 random distinct cells (jittered
    // slightly off-center to exercise the nearest-cell snap)
    val chosen = rnd.shuffle(cells.toVector).take(25)
    val nonChosen = cells.filterNot(chosen.contains)
    val uparea = (
      chosen.map { case (la, lo) => (la + 1e-9, lo - 1e-9, 300000.0) } ++
        nonChosen.map { case (la, lo) => (la, lo, 1000.0) }
    ).toDF("latitude", "longitude", "uparea")

    val got = UpstreamFilter(discharge, uparea, threshold = 250000.0,
      resolution = res, precision = 3)

    val survivors = got.select("latitude", "longitude").distinct()
      .as[(Double, Double)].collect().toSet
    assert(survivors === chosen.toSet)
    // all member/step rows preserved for surviving cells, none dropped or duplicated
    assert(got.count() === chosen.size * 6L)
  }

  test("the qualifying-cell side is broadcast even with auto-broadcast off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      val discharge = Seq((1L, 5.725, 28.975, 1L, 100.0f), (1L, 5.675, 29.025, 1L, 50.0f))
        .toDF("number", "latitude", "longitude", "step", "dis24")
      val uparea = Seq((5.725, 28.975, 300000.0), (5.675, 29.025, 1000.0))
        .toDF("latitude", "longitude", "uparea")
      val got = UpstreamFilter(discharge, uparea, threshold = 250000.0,
        resolution = 0.05, precision = 3)
      assert(got.count() === 1L)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.unset(key)
  }

  test("ROI restriction keeps the buffer margin") {
    val df = Seq(
      (17.01, 0.0), // inside buffer (buffer = 0.0125)
      (17.02, 0.0), // outside
      (-6.01, 0.0), // inside lower buffer
      (0.0, 52.01), // inside lon buffer
      (0.0, 52.02) // outside
    ).toDF("latitude", "longitude")
    val roi = Roi(-6.0, 17.0, -18.0, 52.0)
    val got = UpstreamFilter.restrictArea(df, roi, buffer = 0.0125)
      .as[(Double, Double)].collect().toSet
    assert(got === Set((17.01, 0.0), (-6.01, 0.0), (0.0, 52.01)))
  }
}
