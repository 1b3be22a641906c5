package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one constructor for a table whose rows were computed on the
  * driver (model tables, labels, centroids): a `LocalRelation` with the
  * rows in the given order. Its size is known to the planner, and
  * collecting it, or a projection or filter of it, reads the rows in
  * place without running a Spark job. An empty table is `rows = Nil`. */
object DriverTable {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
