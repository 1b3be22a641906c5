package graft.llm

import graft.SparkSpec

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("clusters assigns min reachable id per component, singletons self-cluster") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // components: {1,2,3} (chained), {4,5}, {9}
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(docs, pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("clusters converges on a long chain (diameter > 2)") {
    val n = 12L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // force the distributed loop (the default gate would take the
    // small-graph driver path) — this test pins the LOOP's convergence
    val got = Dedup.clusters(docs, pairs, smallGraphMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
  }

  test("clusters labels mixed components with their min ids on both paths") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L, 30L, 31L, 32L, 33L).toDF("doc_id")
    // a chain, a pair, a singleton, and a clique with redundant edges
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 5L),
      (30L, 31L), (31L, 32L), (30L, 32L), (33L, 30L), (33L, 32L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    val driver = Dedup.clusters(docs, pairs).as[(Long, Long)].collect().toMap
    val loop = Dedup.clusters(docs, pairs, smallGraphMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == want)
    assert(loop == want)
  }

  test("clustersStar handles self-pairs, duplicate edges and empty graphs") {
    val docs = Seq(1L, 2L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 1L), (2L, 1L), (1L, 2L), (2L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(docs, pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    val none = Dedup.clusters(docs,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
    assert(none == Map(1L -> 1L, 2L -> 2L, 7L -> 7L))
  }

  test("clustersStar converges on a planted 1000-node chain within O(log^2 n) rounds") {
    // diameter 999: min-label propagation would need ~999 rounds; star
    // contraction must finish far inside its default 50-round budget —
    // the 100 TB pathological-component guard
    val n = 1000L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // smallGraphMaxEdges = 0 forces the star LOOP — the round-count
    // bound is exactly what this test exists to pin
    val got = Dedup.clusters(docs, pairs, maxRounds = 25,
      smallGraphMaxEdges = 0).as[(Long, Long)]
      .collect().toMap
    assert(got.size == n && got.values.toSet == Set(1L))
  }

  test("clusters fails loudly, naming the cap, when the loop hits maxRounds") {
    // the same 1000-node chain cannot contract to stars in one round: the
    // loop must refuse to return its unconverged labels
    val n = 1000L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusters(docs, pairs, maxRounds = 1, smallGraphMaxEdges = 0).collect()
    }
    assert(e.getMessage.contains("maxRounds = 1"), e.getMessage)
  }

  test("clusterRepresentatives keeps the highest-quality member, not the min id") {
    // 10 & 11 are near-dups; 11 carries the richer (higher-quality) text;
    // 20 is a singleton
    val rich = "the quick brown fox jumps over a lazy dog near the quiet river bank today"
    val docs = Seq(
      (10L, rich + " zz zz zz zz zz zz zz zz zz zz"),       // degraded diversity
      (11L, rich + " while birds sing over distant green hills this morning"),
      (20L, "wholly unrelated text body")).toDF("doc_id", "text")
    val out = Dedup.clusterRepresentatives(docs, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out.size == 3, "every doc appears")
    assert(out(10L)._1 == 10L && out(11L)._1 == 10L, "near-dups share a cluster")
    assert(out(20L)._3, "singleton is its own representative")
    assert(out(11L)._2 > out(10L)._2, "doc 11 should score higher")
    assert(out(11L)._3 && !out(10L)._3, "higher quality wins over lower id")
    // exactly one rep per cluster
    val reps = out.toSeq.groupBy(_._2._1).view.mapValues(_.count(_._2._3)).toMap
    assert(reps.values.forall(_ == 1), s"rep counts per cluster: $reps")
  }
}
