package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.util.SerializableConfiguration

object HadoopConfSpec {
  def serialize(o: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.toByteArray
  }

  def roundTrip[T <: AnyRef](o: T): T =
    new ObjectInputStream(new ByteArrayInputStream(serialize(o))).readObject().asInstanceOf[T]

  /** True when `o`'s Java serialization carries the string `s`. */
  def carries(o: AnyRef, s: String): Boolean =
    new String(serialize(o), "ISO-8859-1").contains(s)

  def testConf(): Configuration = {
    val c = new Configuration(false)
    c.set("graft.test.inline", "kept")
    c
  }
}

/** How [[SerializableHadoopConf]] ships the session's Hadoop conf: as one
  * broadcast built on the driver, so a planned GRIB partition stays the
  * same size however large the conf is, while `spark.hadoop.*` settings
  * still reach the reader inside a task, and the broadcast value survives
  * Kryo; and inline, as before, when no session is active or inside a
  * task. */
class HadoopConfSpec extends SparkSpec {
  import HadoopConfSpec._

  private val fixture = new java.io.File("data/grib/forecast.grib2").getAbsolutePath

  /** `body` on a fresh session sharing the test context, active meanwhile. */
  private def withSession[T](confs: Map[String, String])(body: SparkSession => T): T = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    SparkSession.setActiveSession(s)
    try body(s) finally SparkSession.setActiveSession(spark)
  }

  private def stepPartitions(s: SparkSession): Seq[GribPartitionBase] = {
    val df: DataFrame = s.read.format(classOf[GribSource].getName)
      .option("path", fixture).option("partitionByStep", "true").load()
    val parts = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec =>
      b.inputPartitions }.getOrElse(fail("no BatchScanExec in the plan"))
    assert(parts.nonEmpty && parts.forall(_.isInstanceOf[GribStepPartition]))
    parts.map(_.asInstanceOf[GribPartitionBase])
  }

  test("a session's spark.hadoop.* key reaches the GRIB reader's conf inside a task") {
    withSession(Map("spark.hadoop.graft.test.key" -> "from-session")) { s =>
      val parts = stepPartitions(s)
      assert(!parts.exists(carries(_, "graft.test.key")))
      val seen = s.sparkContext.parallelize(parts.take(1), 1).map { p =>
        assert(org.apache.spark.TaskContext.get() != null)
        p.conf.value.get("spark.hadoop.graft.test.key")
      }.collect()
      assert(seen.toSeq == Seq("from-session"))
    }
  }

  test("a planned GribStepPartition does not grow with 1000 extra spark.hadoop.* keys") {
    val plain = withSession(Map.empty)(s => serialize(stepPartitions(s).head).length)
    val extra = (0 until 1000).map(i => s"spark.hadoop.graft.test.pad$i" -> ("v" * 40 + i)).toMap
    val padded = withSession(extra) { s =>
      val p = stepPartitions(s).head
      assert(p.conf.value.get("spark.hadoop.graft.test.pad999") == "v" * 40 + 999)
      serialize(p).length
    }
    assert(padded <= plain, s"partition grew from $plain to $padded bytes")
  }

  test("with no active session, or inside a task, the conf round-trips inline") {
    SparkSession.clearActiveSession()
    val driverSide = try new SerializableHadoopConf(testConf())
      finally SparkSession.setActiveSession(spark)
    assert(carries(driverSide, "graft.test.inline"))
    assert(roundTrip(driverSide).value.get("graft.test.inline") == "kept")

    val inTask = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      val c = new SerializableHadoopConf(testConf())
      (carries(c, "graft.test.inline"), roundTrip(c).value.get("graft.test.inline"))
    }.collect()
    assert(inTask.toSeq == Seq((true, "kept")))

    val shared = new SerializableHadoopConf(testConf())
    assert(!carries(shared, "graft.test.inline"))
    assert(roundTrip(shared).value.get("graft.test.inline") == "kept")
  }

  test("the broadcast value reads back whole under KryoSerializer") {
    val shared = new SerializableHadoopConf(testConf())
    val b = shared.broadcast.getOrElse(fail("a driver-side carrier did not broadcast"))
    val kryo = new KryoSerializer(spark.sparkContext.getConf).newInstance()
    val back = kryo.deserialize[AnyRef](kryo.serialize[AnyRef](b.value))
    assert(back.asInstanceOf[SerializableConfiguration].value.get("graft.test.inline") == "kept")
  }
}
