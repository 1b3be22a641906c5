package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Serializable carrier for the session's Hadoop configuration, so the
  * custom sources honor `spark.hadoop.*` settings (object-store
  * credentials, endpoints, connector tuning) on BOTH the driver and the
  * executors. A bare `new Configuration()` would silently drop them — the
  * classic DSv2 mistake that only surfaces off local disk.
  *
  * Wire format: one broadcast per carrier. Built on the driver (a session
  * is active and no `TaskContext` exists), the carrier broadcasts the
  * configuration the first time it is serialized and from then on
  * serializes as the broadcast handle alone; a carrier that never leaves
  * the driver (e.g. a planning-time index walk) creates no broadcast.
  * Scan partitions, reader factories and closures hold the carrier, so a
  * task deserializes a few bytes instead of the whole configuration
  * (hundreds of properties, each read back by `Configuration.readFields`)
  * — and every task of every stage whose lineage reaches a scan, cached
  * frames included, deserializes the scan's partitions. An executor
  * fetches the configuration once per broadcast and shares it between
  * tasks; readers only read it.
  *
  * The broadcast value is Spark's own `SerializableConfiguration`. A
  * broadcast is stored with `spark.serializer`, and Spark registers that
  * class with Kryo's Java-serialization fallback, so the value reads back
  * whole under `KryoSerializer` too (Kryo's default field serializer
  * would skip a transient configuration and leave it null).
  *
  * Lifetime: the broadcast lives as long as its carrier. `SparkContext`
  * registers it with the `ContextCleaner`, which removes it from the
  * driver and executors once the carrier (and so the handle) is garbage.
  *
  * Inline fallback: with no active session, or inside a task, no
  * broadcast is created and the carrier writes the configuration itself
  * (the `Writable` wire format, as `SerializableConfiguration` does).
  * Call sites are the same in both forms. */
final class SerializableHadoopConf(@transient private var conf: Configuration)
  extends Serializable {

  /** The context to broadcast with; null inline and after deserialization. */
  @transient private val driver: SparkContext = SerializableHadoopConf.driverContext()

  @transient private var shared: Broadcast[SerializableConfiguration] = _

  def value: Configuration = {
    if (conf == null) conf = shared.value.value
    conf
  }

  /** The broadcast this carrier ships as, created on first use; None = inline. */
  private[sources] def broadcast: Option[Broadcast[SerializableConfiguration]] =
    Option(handle())

  private def handle(): Broadcast[SerializableConfiguration] = synchronized {
    if (shared == null && driver != null && !driver.isStopped && TaskContext.get() == null)
      shared = driver.broadcast(new SerializableConfiguration(conf))
    shared
  }

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val h = handle()
    out.writeObject(h)
    if (h == null) conf.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    shared = in.readObject().asInstanceOf[Broadcast[SerializableConfiguration]]
    if (shared == null) {
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}

private object SerializableHadoopConf {
  /** The active session's context on the driver outside tasks, else null. */
  private def driverContext(): SparkContext =
    if (TaskContext.get() != null) null
    else SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped).orNull
}

object HadoopConf {
  /** The active session's Hadoop conf (with `spark.hadoop.*` applied);
    * plain defaults only when no session exists (e.g. bare unit code). */
  def session(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
}
