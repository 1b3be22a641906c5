package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[GraftRoundOps.round]] against Spark's own `round` on the same
  * column, compared bit for bit (`doubleToRawLongBits`, so ±0.0 and NaN
  * payloads count) for scales 0–10, over inputs built to hit each branch
  * of the kernel: uniform and random-bit doubles, the 0.05° grid the
  * pipeline keys on, exact ties `k/2·10^-s` and the 1–4 ulps around them,
  * signs, zeros, specials, subnormals and `|x·10^s| ≥ 2^52`. Non-double
  * inputs must keep `Round` (value and type), and the kernel column must
  * be exactly as nullable as `Round`'s; `GraftVecOps.roundAsSpark`, built
  * on the kernel, must match `round(x).cast(long)`. Fixed seeds, so a failure
  * reproduces. */
class GraftRoundOpsSpec extends SparkSpec {
  import spark.implicits._

  private val Scales = 0 to 10
  private val PerScale = 120000

  private def ulpsAround(x: Double, n: Int): Seq[Double] = {
    val up = Iterator.iterate(x)(java.lang.Math.nextUp).slice(1, n + 1)
    val down = Iterator.iterate(x)(java.lang.Math.nextDown).slice(1, n + 1)
    Seq(x) ++ up ++ down
  }

  /** Inputs for one scale; every value also appears negated. */
  private def inputs(scale: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val p = math.pow(10, scale)
    val uniform = Seq.fill(PerScale / 4)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 3))
    val bits = Seq.fill(PerScale / 8)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    // 0.05° cell centres and edges, spelled as the pipeline computes them
    val grid = (0 until 7200).flatMap { i =>
      Seq(-180.0 + 0.025 + i * 0.05, (i * 50000L - 180000000L + 25000L) / 1e6,
        math.floor((i * 0.05 - 180.0) / 0.05) * 0.05 + 0.05 / 2.0)
    }.take(PerScale / 8)
    // the double nearest each tie (2k+1)/(2·10^s), and 1-4 ulps either side
    val ties = Seq.fill(PerScale / 40) {
      val k = rnd.nextInt(2000000).toLong
      ulpsAround((2 * k + 1) / (2 * p), 4)
    }.flatten
    val specials = Seq(0.0, Double.NaN, Double.PositiveInfinity, Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, 0.5, 1.5, 2.5, 0.05, 0.005, 0.0005,
      java.lang.Double.longBitsToDouble(0x7ff8dead00000001L)) ++
      Seq.fill(200)(java.lang.Double.longBitsToDouble(rnd.nextLong() & 0x000fffffffffffffL))
    // |x·10^s| at and above 2^52 (and the 2^49 fast-path edge below it)
    val huge = Seq.fill(PerScale / 40) {
      val e = 49 + rnd.nextInt(16)
      (math.pow(2, e) + rnd.nextInt(1000) + rnd.nextDouble()) / p
    } ++ Seq(49, 50, 51, 52, 53).flatMap(e => ulpsAround(math.pow(2, e) / p, 4))
    val all = uniform ++ bits ++ grid ++ ties ++ specials ++ huge
    (all ++ all.map(-_)).toArray
  }

  private val rawBits = udf((d: Double) => java.lang.Double.doubleToRawLongBits(d))

  /** (mismatching rows, up to 5 examples) of kernel vs `round` at `scale`. */
  private def mismatches(df: DataFrame, scale: Int): (Long, Seq[String]) = {
    val cmp = df.select(col("x"),
      rawBits(round(col("x"), scale)).as("spark"),
      rawBits(GraftRoundOps.round(col("x"), scale)).as("kernel"))
      .filter(col("spark") =!= col("kernel"))
    (cmp.count(), cmp.limit(5).collect().map { r =>
      s"x=${r.getDouble(0)} (bits ${r.getLong(1)} vs ${r.getLong(2)})" }.toSeq)
  }

  test("kernel == Spark round bit for bit, scales 0-10") {
    var compared = 0L
    Scales.foreach { s =>
      val xs = inputs(s, 1000L + s)
      val df = spark.sparkContext.parallelize(xs.toSeq, 4).toDF("x")
      val plan = df.select(GraftRoundOps.round(col("x"), s))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("roundHalfUp"), s"scale $s: kernel not planned:\n$plan")
      val (n, examples) = mismatches(df, s)
      assert(n == 0, s"scale $s: $n mismatches, e.g. ${examples.mkString("; ")}")
      compared += xs.length
    }
    assert(compared >= 16L * PerScale)
  }

  test("GraftVecOps.roundAsSpark == Spark's round(x).cast(long), specials included") {
    // the non-ANSI cast: NaN -> 0 and ±Inf saturating, where ANSI would throw
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(ansi)
    spark.conf.set(ansi, "false")
    try {
      val viaKernel = udf((d: Double) => GraftVecOps.roundAsSpark(d))
      val df = spark.sparkContext.parallelize(inputs(0, 31L).toSeq, 4).toDF("x")
      val bad = df.filter(round(col("x")).cast("long") =!= viaKernel(col("x")))
      assert(bad.count() == 0, bad.limit(5).collect().mkString("; "))
    } finally before.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
  }

  test("interpreted evaluation gives the same bits") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try Seq(0, 3, 6).foreach { s =>
      val (n, examples) = mismatches(inputs(s, 77L + s).take(4000).toSeq.toDF("x"), s)
      assert(n == 0, s"scale $s: $n mismatches, e.g. ${examples.mkString("; ")}")
    } finally keys.foreach(spark.conf.unset)
  }

  test("float, decimal and integer inputs keep Spark's round: value and type") {
    val df = Seq((1.2345f, BigDecimal("12.34567"), 1234L), (-2.5f, BigDecimal("-0.00050"), -5L),
      (0.125f, BigDecimal("99.99999"), 0L))
      .toDF("f", "d", "l").select(col("f"), col("d").cast(DecimalType(10, 5)).as("d"), col("l"))
    def both(c: Column, s: Int): (StructField, StructField, Array[Any], Array[Any]) = {
      val out = df.select(round(c, s).as("a"), GraftRoundOps.round(c, s).as("b"))
      val rows = out.collect()
      (out.schema("a"), out.schema("b"), rows.map(_.get(0)), rows.map(_.get(1)))
    }
    for (c <- Seq(col("f"), col("d"), col("l")); s <- Seq(0, 2, 4)) {
      val (a, b, va, vb) = both(c, s)
      assert(a.dataType == b.dataType && a.nullable == b.nullable, s"$c, $s: $a vs $b")
      assert(va.toSeq == vb.toSeq, s"$c, $s")
    }
    val plan = df.select(GraftRoundOps.round(col("f"), 2)).queryExecution.optimizedPlan.toString
    assert(!plan.contains("roundHalfUp"), plan)
  }

  test("nullability and column name are Round's, also on a non-nullable input") {
    val df = spark.range(5).select((col("id") * 0.1437).as("x"))
    assert(!df.schema("x").nullable)
    val out = df.select(round(col("x"), 3), GraftRoundOps.round(col("x"), 3))
    assert(out.schema.fields.map(_.nullable).toSeq == Seq(true, true))
    assert(out.columns(0) == out.columns(1))
    val withNull = Seq(Some(1.0005), None).toDF("x")
      .select(GraftRoundOps.round(col("x"), 3).as("r")).as[Option[Double]].collect().toSeq
    assert(withNull == Seq(Some(1.001), None))
  }
}
