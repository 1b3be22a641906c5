package graft

import org.apache.spark.sql.functions.{col, udf}

/** [[Bench.timeQueries]]: a query that throws, whether while it is built
  * or while it runs, is reported as a failure and gets no timing. */
class BenchSpec extends SparkSpec {

  test("a throwing query is a failure, not a timing") {
    val boom = udf((x: Long) => if (x == 3) throw new IllegalStateException("boom") else x)
    val (timed, failed) = Bench.timeQueries(spark, "unused", Seq(
      "q_ok" -> ((s, _) => s.range(10).toDF()),
      "q_plan" -> ((_, dir) => throw new IllegalArgumentException(s"no table under $dir")),
      "q_run" -> ((s, _) => s.range(10).toDF().filter(boom(col("id")) >= 0L))), runs = 3)
    assert(timed.map(_._1) == Seq("q_ok"))
    assert(timed.head._2 > 0.0)
    assert(failed.map(_._1) == Seq("q_plan", "q_run"))
    assert(failed.head._2.getMessage.contains("no table under unused"))
  }
}
