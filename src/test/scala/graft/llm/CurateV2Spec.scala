package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Five-gate curation verdict: gate precedence, per-gate firing, and
  * the keep flag. */
class CurateV2Spec extends SparkSpec {
  import spark.implicits._

  // A healthy doc needs: unique text, quality >= 0.4, accepted label,
  // plausible bigrams, and no smaller-id near-duplicate.
  private val good = "the quick brown fox jumps over a lazy dog of the north valley"

  private def verdicts(rows: (Long, String, String)*): Map[Long, (Boolean, String)] =
    Curation.curateV2(rows.toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang", acceptLabels = Set("en"),
      minAvgLpMicros = -5000000L)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("each gate fires and the first failing gate names the reason") {
    val out = verdicts(
      (1L, good, "en"),
      (2L, good, "en"), // exact dup of 1 -> exact_dup (before near_duplicate)
      (3L, good + " extra word", "en"), // near-dup of 1, not exact
      (4L, "aa aa aa aa aa aa aa aa aa aa aa aa", "en"), // degenerate -> low_quality
      // off-label doc with DISJOINT vocabulary (a tiny self-trained NB
      // would otherwise assign shared words higher likelihood under the
      // rare label's small denominator)
      (5L, "zonk blip zork vex nim quux zonk blip zork vex nim quux", "zz"))
    assert(out(1L) == ((true, "kept")))
    assert(out(2L) == ((false, "exact_dup")))
    assert(out(3L) == ((false, "near_duplicate")))
    assert(out(4L)._2 == "low_quality")
    assert(out(5L) == ((false, "off_label")))
  }

  test("LM floor rejects scrambled-bigram docs that pass every other gate") {
    // train distribution: 'aa bb' dominates; doc 20 is all unobserved
    // in-vocab bigrams -> average log-prob far below the floor
    val docs = Seq(
      (1L, "aa bb aa bb aa bb cc dd ee ff gg hh", "en"),
      (2L, "aa bb aa bb cc dd ee ff gg hh ii jj", "en"),
      (20L, "bb aa ff ee dd cc hh gg jj ii bb aa", "en")).toDF("doc_id", "text", "lang")
    // minJaccard = 0.99 disables the near-dup gate (char shingles of a
    // scrambled doc still overlap heavily) so the test isolates the floor
    val out = Curation.curateV2(docs, "doc_id", "text", "lang",
      acceptLabels = Set("en"), minAvgLpMicros = -1600000L, minJaccard = 0.99)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) == "kept" && out(2L) == "kept")
    assert(out(20L) == "low_lp")
  }

  test("curateV3: the two crawl gates fire in precedence order") {
    val docs = Seq(
      // distinct hosts under one registrable domain: cap 1 keeps one
      (1L, good, "en", "https://a.example.com/1"),
      (2L, good + " tail one", "en", "https://b.example.com/2"),
      (3L, good + " tail two other", "en", "https://c.example.com/3"),
      // domainless url -> domain_capped regardless of content
      (4L, good + " alpha beta unique", "en", "not a url"),
      // exact dup of 1 on ANOTHER domain: exact_dup wins over the cap
      (5L, good, "en", "https://x.other.io/5"),
      // the benchmark doc itself on its own domain -> contaminated
      (9L, "bench mark answer text leaks here today", "en", "https://y.bench.io/9"))
      .toDF("doc_id", "text", "lang", "url")
    val out = Curation.curateV3(docs, "doc_id", "text", "lang", "url",
      benchmark = docs.filter(col("doc_id") === 9L),
      acceptLabels = Set("en"), minAvgLpMicros = -5000000L,
      minJaccard = 0.95, perDomain = 1)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> r._3).toMap
    // one example.com winner kept (hash-priority), the others capped
    val exampleDocs = Seq(1L, 2L, 3L).map(out)
    assert(exampleDocs.count(_ == "domain_capped") >= 1)
    assert(out(4L) == "domain_capped")
    assert(out(5L) == "exact_dup")  // precedence over the domain gate
    assert(out(9L) == "contaminated")
  }

  test("verdict covers every input exactly once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v = Curation.curateV2(docs, "doc_id", "text", "lang",
      acceptLabels = Set("en", "de", "fr"))
    assert(v.count() == docs.count())
    assert(v.select("doc_id").distinct().count() == docs.count())
    assert(v.filter(col("keep") =!= (col("reason") === "kept")).count() == 0)
  }

  test("a chain-shaped pair graph collapses identically through a curation gate") {
    // sliding-window texts: each doc shares a 16-of-20-word block with its
    // neighbor (shingle J ≈ 0.6 > 0.5) but only 12 with distance-2
    // (J ≈ 0.38 < 0.5) — the pair graph is a 9-hop CHAIN, the semi-dup
    // ladder where min-label propagation would need diameter rounds and
    // star contraction converges in O(log² n)
    val words = (0 until 60).map(i => f"tok$i%02d")
    val chainDocs = (0 until 10).map { i =>
      (i + 1L, words.slice(4 * i, 4 * i + 20).mkString(" "))
    }.toDF("doc_id", "text")
    val edges = Dedup.minhashPairs(chainDocs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(edges == (1L until 10L).map(i => (i, i + 1)).toSet,
      s"fixture drift: expected a pure consecutive chain, got $edges")
    val got = Curation.curate(chainDocs, "doc_id", "text", minQuality = 0.0)
      .as[(Long, Double, Long, Boolean, String)].collect()
      .map(r => r._1 -> (r._3, r._4, r._5)).toMap
    assert(got.values.map(_._1).toSet == Set(1L), "chain must collapse to one cluster")
    assert(got(1L) == ((1L, true, "kept")))
    assert((2L to 10L).forall(i => got(i) == ((1L, false, "near_duplicate"))))
  }

  test("curateV2With(drop, artifacts) ≡ curateV2(corpus) restricted to the drop") {
    // fixed corpus split: artifacts carry models trained on the FULL
    // corpus (curateV2 self-trains on everything) while the history
    // stores hold only the pre-drop docs — the production posture
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val splitId = corpus.selectExpr("percentile(doc_id, 0.8)").head.getDouble(0).toLong
    val history = corpus.filter(col("doc_id") <= splitId)
    val drop = corpus.filter(col("doc_id") > splitId)
    assert(drop.count() > 0 && history.count() > 0)
    val full = CurationArtifacts.build(corpus, "doc_id", "text", "lang")
    val hist = CurationArtifacts.build(history, "doc_id", "text", "lang")
    val artifacts = full.copy(
      exactIndex = hist.exactIndex, signatures = hist.signatures)
    val accept = Set("en", "de", "fr")
    val expected = Curation.curateV2(corpus, "doc_id", "text", "lang", accept)
      .join(drop.select("doc_id"), Seq("doc_id"), "left_semi")
      .as[(Long, Boolean, String)].collect().toSet
    val got = Curation.curateV2With(drop, "doc_id", "text", artifacts, accept)
      .as[(Long, Boolean, String)].collect().toSet
    assert(got == expected,
      s"drop-scored verdicts diverge from batch curation:\n" +
        s"only-batch: ${(expected -- got).take(5)}\nonly-drop: ${(got -- expected).take(5)}")
  }

  test("curateV2With gates a drop against history across every gate") {
    val history = Seq(
      (1L, good, "en"),
      (2L, "some other perfectly healthy reference document content here", "en"))
      .toDF("doc_id", "text", "lang")
    // models trained on a corpus where 'en' dominates and good-bigrams rule
    val trainCorpus = Seq(
      (1L, good, "en"), (2L, good + " north", "en"),
      (3L, "zonk blip zork vex nim quux zonk blip zork vex nim", "zz"))
      .toDF("doc_id", "text", "lang")
    val a = CurationArtifacts.build(trainCorpus, "doc_id", "text", "lang").copy(
      exactIndex = CurationArtifacts.build(history, "doc_id", "text", "lang").exactIndex,
      signatures = CurationArtifacts.build(history, "doc_id", "text", "lang").signatures)
    val drop = Seq(
      (10L, good, "en"), // exact dup of history doc 1
      (11L, good + " tail", "en"), // near-dup of history doc 1
      (12L, "aa aa aa aa aa aa aa aa aa aa", "en"), // low quality
      (13L, "zonk blip zork vex nim quux zonk blip zork vex nim", "zz"), // off label
      (14L, "fresh healthy unique content about rivers and valleys flowing north", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.curateV2With(drop, "doc_id", "text", a, Set("en"),
      minAvgLpMicros = -5000000L)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out(10L) == "exact_dup")
    assert(out(11L) == "near_duplicate")
    assert(out(12L) == "low_quality")
    assert(out(13L) == "off_label")
    assert(out(14L) == "kept")
  }
}
