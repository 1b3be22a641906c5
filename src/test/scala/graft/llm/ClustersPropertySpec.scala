package graft.llm

import scala.util.Random

import graft.SparkSpec

/** Property fuzz for [[Dedup.clusters]]: random undirected pair graphs
  * (self-loops, duplicate and reversed edges, edges to nodes outside the
  * doc universe, chains grafted onto cliques) must produce the
  * (doc_id, cluster_id) labeling of a naive in-memory union-find — min
  * reachable id per component, singletons self-clustered — on both the
  * small-graph driver path and the distributed star-contraction loop. */
class ClustersPropertySpec extends SparkSpec {
  import spark.implicits._

  private def naive(docs: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.foreach { case (a, b) => union(a, b) }
    // min id per component over every node that appears anywhere
    val nodes = (docs ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    docs.map(d => d -> minOf(find(d))).toMap
  }

  test("random pair graphs: driver path == loop == union-find, every seed") {
    for (seed <- Seq(1, 7, 42, 1234, 99999)) {
      val rng = new Random(seed)
      val n = 5 + rng.nextInt(60)
      val docs = (0 until n).map(_ => rng.nextInt(500).toLong).distinct
      val nEdges = rng.nextInt(3 * n)
      val pairs = (0 until nEdges).map { _ =>
        // mostly edges within the universe; some to outside ids, some
        // self-loops and duplicates — the shapes real pair tables carry
        def pick(): Long =
          if (rng.nextInt(10) == 0) rng.nextInt(500).toLong
          else docs(rng.nextInt(docs.length))
        (pick(), pick())
      } ++ {
        // graft a chain onto the densest region so diameters are real
        val chain = (0 until math.min(12, docs.length))
          .map(i => docs(i % docs.length))
        chain.zip(chain.drop(1))
      }
      val docsDf = docs.toDF("doc_id")
      val pairsDf = pairs.toDF("doc_a", "doc_b")
      // both code paths: the default gate takes the small-graph DRIVER
      // path (these graphs are far under the edge cap);
      // smallGraphMaxEdges = 0 forces the distributed LOOP, so the loop
      // keeps property coverage.
      val driver = Dedup.clusters(docsDf, pairsDf)
        .as[(Long, Long)].collect().toMap
      val loop = Dedup.clusters(docsDf, pairsDf, smallGraphMaxEdges = 0)
        .as[(Long, Long)].collect().toMap
      val want = naive(docs, pairs)
      for ((path, got) <- Seq("driver path" -> driver, "distributed loop" -> loop))
        assert(got == want,
          s"seed=$seed: $path labeling diverges from union-find\n" +
            s"only-spark: ${(got.toSet -- want.toSet).take(5)}\n" +
            s"only-naive: ${(want.toSet -- got.toSet).take(5)}")
    }
  }
}
