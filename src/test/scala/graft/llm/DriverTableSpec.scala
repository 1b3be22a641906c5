package graft.llm

import graft.{MainSources, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Tables computed on the driver enter plans through [[DriverTable]]
  * only: reading one back runs no Spark job, empty ones keep the full
  * schema, and the kernels' matrix index maps back to a centroid id by a
  * literal lookup rather than a broadcast join. */
class DriverTableSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the river rose over the bank and the river fell", "flood"),
    (2L, "the river bank held while the rain fell", "flood"),
    (3L, "the market rose and the market fell again", "money"),
    (4L, "rain fell on the market and the bank", "money"),
    (5L, "the river rose the river rose the river fell", "flood"))
    .toDF("doc_id", "text", "label")

  private val vectors = Seq(
    (1L, Seq(1f, 0f, 0.5f)), (2L, Seq(0.9f, 0.1f, 0.4f)), (3L, Seq(0f, 1f, 0.2f)),
    (4L, Seq(0.1f, 0.8f, 0f)), (5L, Seq(0.5f, 0.5f, 1f)), (6L, Seq(0.4f, 0.6f, 0.9f)))
    .toDF("vec_id", "embedding")

  /** Vectors over a non-local leaf (a `Range`), so that a projection of
    * them is a scan job, not folded into a local relation at plan time. */
  private def scannedVectors: DataFrame =
    spark.range(1, 13, 1, 2).select(col("id").as("vec_id"),
      array(col("id") % 3, col("id") % 2, lit(1)).cast("array<float>").as("embedding"))

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("only DriverTable builds a DataFrame from driver rows in src/main/scala") {
    val rddRows = MainSources.all.collect {
      case (p, text) if text.contains("parallelize(") || text.contains("emptyRDD") => p.toString
    }
    assert(rddRows.isEmpty, s"build driver rows with graft.llm.DriverTable: ${rddRows.mkString(", ")}")
    val creators = MainSources.all.collect {
      case (p, text) if text.contains("createDataFrame(") => p.getFileName.toString
    }
    assert(creators == Seq("DriverTable.scala"), s"createDataFrame( in $creators")
  }

  test("driver-built model tables collect without a Spark job") {
    val tables = Seq(
      "lmUnigrams" -> LangModel.lmUnigrams(docs, "doc_id", "text"),
      "lmBigrams" -> LangModel.lmBigrams(docs, "doc_id", "text"),
      "nbTrain" -> Classify.nbTrain(docs, "doc_id", "text", "label"),
      "nbPriors" -> Classify.nbPriors(docs, "label"),
      "pmi" -> Collocations.pmi(docs, "doc_id", "text", minCount = 1),
      "pcaModel" -> Pca.pcaModel(vectors, "vec_id", "embedding", dim = 3, k = 2),
      "smallGraphLabels" -> Dedup.smallGraphLabels(Array(2L -> 1L, 3L -> 2L, 5L -> 4L), spark))
    val jobs = tables.map { case (name, table) =>
      var rows = Array.empty[org.apache.spark.sql.Row]
      val n = jobsOf { rows = table.collect() }
      assert(rows.nonEmpty, name)
      name -> n
    }
    assert(jobs.forall(_._2 == 0), s"jobs per collect: $jobs")
  }

  test("Dedup.clusters' small-graph path labels from a driver-built table") {
    val pairs = Seq(2L -> 1L, 3L -> 2L, 5L -> 4L).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(docs.select("doc_id"), pairs)
    assert(out.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
    assert(out.as[(Long, Long)].collect().toSet ==
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("empty vocab and label early returns keep their schema, nullability included") {
    val none = docs.filter(lit(false))
    val unlabeled = docs.withColumn("label", lit(null).cast("string"))
    val cases = Seq(
      ("lmBigramsWith",
        LangModel.lmBigramsWith(none, "text", LangModel.lmUnigrams(none, "doc_id", "text")),
        LangModel.lmBigrams(docs, "doc_id", "text")),
      ("nbTrain", Classify.nbTrain(unlabeled, "doc_id", "text", "label"),
        Classify.nbTrain(docs, "doc_id", "text", "label")),
      ("pmi", Collocations.pmi(none, "doc_id", "text"),
        Collocations.pmi(docs, "doc_id", "text", minCount = 1)))
    val jobs = cases.map { case (name, empty, full) =>
      assert(empty.schema == full.schema, name)
      assert(empty.schema.fields.forall(!_.nullable), s"$name: ${empty.schema}")
      var rows = Array.empty[org.apache.spark.sql.Row]
      val n = jobsOf { rows = empty.collect() }
      assert(rows.isEmpty, name)
      name -> n
    }
    assert(jobs.forall(_._2 == 0), s"jobs per collect: $jobs")
  }

  test("the k-means assignment maps cluster ids without a join or its broadcast job") {
    val assigned = Clustering.kmeansAssigned(scannedVectors, "vec_id", "embedding", k = 2)
    // the scan is the only job: the index→id map is a projection
    val jobs = jobsOf(assigned.collect())
    assert(jobs == 1, s"the assignment's collect ran $jobs job(s)")
    assert(joins(assigned) == 0)
  }

  test("the IVF search maps cell ids without a join or its broadcast job") {
    val quantizer = Seq((10L, Seq(1.0, 0.0, 0.0)), (20L, Seq(0.0, 1.0, 0.0)))
      .toDF("centroid_id", "vc")
    val search = Similarity.ivfTopKWith(scannedVectors, "vec_id", "embedding", quantizer,
      queryIds = Seq(1L, 3L), k = 2, nProbes = 1)
    // the jobs of the probe and search plan alone: the cell-id lookup
    // is a projection and adds none
    val jobs = jobsOf(search.collect())
    assert(jobs == 4, s"ivfTopKWith's collect ran $jobs job(s)")
    // left: the probe-side centroid join and the probes' join to the postings
    assert(joins(search) == 2)
  }
}
