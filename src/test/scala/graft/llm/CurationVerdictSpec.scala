package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, rand}

/** The one verdict builder on its own — a literal frame, no clustering,
  * no models — and the batch input contract. */
class CurationVerdictSpec extends SparkSpec {
  import spark.implicits._

  private val Order = Seq("exact_dup", "domain_capped", "low_quality", "off_label",
    "low_lp", "contaminated", "near_duplicate")

  /** One row per subset of failing gates: bit k of the mask fails gate k
    * of [[Order]]. With `vsHistory` the near-dup failure comes from the
    * representative's history match instead of a foreign cluster id. */
  private def allCombinations(vsHistory: Boolean) = {
    def fails(mask: Int, k: Int) = (mask >> k & 1) == 1
    (0 until 1 << Order.size).map { m =>
      val id = 1000L + m
      val nearDup = fails(m, 6)
      (id,
        if (fails(m, 0)) id - 1 else id, // keep_id
        if (fails(m, 1)) None else Some(true), // in_cap
        if (fails(m, 2)) 0.1 else 0.9, // quality_score
        if (fails(m, 3)) "zz" else "en", // predicted_label
        if (fails(m, 4)) -30000L else 0L, // lp_micros over 10 pairs
        10L, // n_pairs
        fails(m, 5), // contaminated
        if (nearDup && !vsHistory) id - 1 else id, // cluster_id
        if (nearDup && vsHistory) Some(true) else None) // rep_hist_dup
    }.toDF("doc_id", "keep_id", "in_cap", "quality_score", "predicted_label",
      "lp_micros", "n_pairs", "contaminated", "cluster_id", "rep_hist_dup")
  }

  for (vsHistory <- Seq(false, true))
    test(s"reason is the first failing gate of all 2^7 combinations (vsHistory=$vsHistory)") {
      val gates = Curation.sevenGates(minQuality = 0.4, acceptLabels = Set("en"),
        minAvgLpMicros = -1000L, vsHistory = vsHistory)
      assert(gates.map(_.reason) == Order)
      val got = Curation.verdict(allCombinations(vsHistory), gates)
        .as[(Long, Boolean, String)].collect()
      assert(got.length == 1 << Order.size)
      got.foreach { case (id, keep, reason) =>
        val mask = (id - 1000L).toInt
        val expected = Order.indices.find(k => (mask >> k & 1) == 1)
          .map(Order).getOrElse(Curation.Kept)
        assert(reason == expected, s"mask ${mask.toBinaryString}")
        assert(keep == (reason == Curation.Kept), s"mask ${mask.toBinaryString}")
      }
    }

  test("a doc that never entered clustering is a near_duplicate, never kept") {
    val gated = Seq((1L, Option.empty[Long]), (2L, Some(2L))).toDF("doc_id", "cluster_id")
    val got = Curation.verdict(gated, Seq(Curation.nearDuplicate(vsHistory = false)))
      .as[(Long, Boolean, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, false, "near_duplicate"), (2L, true, Curation.Kept)))
  }

  test("curate, curateV2 and curateV3 reject a non-deterministic input") {
    val docs = Seq((1L, "a b c d e f g", "en", "https://a.example.com/1"))
      .toDF("doc_id", "text", "lang", "url")
      .filter(rand(7) < 0.9)
    val calls = Seq[() => Any](
      () => Curation.curate(docs, "doc_id", "text"),
      () => Curation.curateV2(docs, "doc_id", "text", "lang", Set("en")),
      () => Curation.curateV3(docs, "doc_id", "text", "lang", "url",
        docs.select("text"), Set("en")))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("input contract") &&
        e.getMessage.contains("deterministic"), e.getMessage)
    }
  }
}
