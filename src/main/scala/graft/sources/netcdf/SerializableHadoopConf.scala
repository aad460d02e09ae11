package graft.sources.netcdf

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop Configuration as executor tasks see it, so they
  * resolve FileSystems with the session's settings (fs.* credentials,
  * spark.hadoop.* overrides) instead of a bare `new Configuration()`.
  *
  * The conf ships once per SparkContext as a broadcast, not inside
  * every task: a session conf is about 1,000 entries (about 110 KB
  * serialized), and carried by value in each reader and writer factory
  * it cost every task about 9 ms of deserialization. This handle holds
  * only the broadcast reference; an executor fetches the conf once and
  * its tasks share it read-only.
  *
  * Construct it on the driver. Handles share one broadcast until the
  * SparkContext changes or the conf's entries differ from the ones the
  * broadcast was built from, so a key set on `sc.hadoopConfiguration`
  * after one query reaches the next query's tasks. */
class SerializableHadoopConf(conf: Configuration) extends Serializable {
  private val shipped = SerializableHadoopConf.broadcast(conf)
  def value: Configuration = shipped.value.value
}

object SerializableHadoopConf {

  /** The last broadcast conf: its context, and the entries it holds. */
  private case class Shipped(sc: SparkContext, entries: Map[String, String],
      conf: Broadcast[SerializableConfiguration])

  private var last: Shipped = null

  /** The broadcast of `conf`'s current entries on the active context,
    * reused while neither has changed. The broadcast holds a private
    * copy, so a later `set` on `conf` cannot reach tasks already
    * planned. */
  private def broadcast(conf: Configuration): Broadcast[SerializableConfiguration] = {
    val sc = SparkContext.getOrCreate()
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    synchronized {
      if (last == null || (last.sc ne sc) || last.entries != entries) {
        val copy = new SerializableConfiguration(new Configuration(conf))
        last = Shipped(sc, entries, sc.broadcast(copy))
      }
      last.conf
    }
  }
}
