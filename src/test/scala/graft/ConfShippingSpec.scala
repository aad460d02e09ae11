package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.netcdf.{ChunkedWriteBuilder, NetCDF4}

/** How the session's Hadoop conf reaches scan and write tasks: once per
  * SparkContext as a broadcast, so the factories Spark ships inside
  * every task stay small, and rebuilt when the conf or the context
  * changes. */
class ConfShippingSpec extends AnyFunSuite {
  import TestSession._

  private val root = "/tmp/graft_conf_spec"

  private def serializedSize(o: AnyRef): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size()
  }

  private def threeParts = spark.range(0, 300, 1, 3)
    .select(col("id").as("coord"), (col("id") * 0.5).as("payload"))

  private def readerFactory(df: DataFrame) =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
      .toBatch.createReaderFactory()

  test("reader and writer factories serialize without the Hadoop conf") {
    for (fmt <- Seq("netcdf3", "netcdf4")) {
      val dir = s"$root/size_$fmt"
      threeParts.write.format(fmt).mode("overwrite").save(dir)
      val factory = readerFactory(spark.read.format(fmt).load(dir))
      val n = serializedSize(factory)
      assert(n < 4096, s"${factory.getClass.getSimpleName}: $n bytes")
    }
    val schema = StructType(Seq(StructField("coord", LongType)))
    val write = new ChunkedWriteBuilder(NetCDF4, schema, s"$root/size_write", Map.empty)
      .build().toBatch
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val n = serializedSize(factory)
    assert(n < 4096, s"${factory.getClass.getSimpleName}: $n bytes")
  }

  test("a key set on sc.hadoopConfiguration after a scan reaches the next scan's tasks") {
    val dir = s"$root/late_key"
    threeParts.write.format("netcdf4").mode("overwrite").save(dir)
    val total = spark.read.format("netcdf4").load(dir).agg(sum("coord")).head().getLong(0)
    assert(total == 44850L)
    // the graftprobe:// scheme only resolves with the keys below, and
    // the uncached FileSystem makes every task resolve it from the conf
    // it was shipped
    val hconf = spark.sparkContext.hadoopConfiguration
    try {
      hconf.set("fs.graftprobe.impl", classOf[ProbeFs].getName)
      hconf.setBoolean("fs.graftprobe.impl.disable.cache", true)
      val viaProbe = spark.read.format("netcdf4").load(s"graftprobe://$dir")
      assert(viaProbe.agg(sum("coord")).head().getLong(0) == total)
    } finally {
      hconf.unset("fs.graftprobe.impl")
      hconf.unset("fs.graftprobe.impl.disable.cache")
    }
  }

  test("the conf is shipped again after the SparkContext is stopped and restarted") {
    // a context can only restart in a JVM of its own; the probe runs
    // two sessions one after the other and reads through each
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getPath
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin) ++ jvmOpts ++ Seq("-Xmx768m", "-cp", sys.props("java.class.path"),
      "graft.ConfRestartProbe", s"$root/restart")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      line => out.append(line).append('\n'), line => out.append(line).append('\n')))
    assert(code == 0 && out.toString.contains("sums=4950,4950"), out.toString.takeRight(4000))
  }
}

/** The local file system under the `graftprobe` scheme. */
class ProbeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftprobe:///")
  override def getScheme: String = "graftprobe"
}

/** Two SparkSessions in turn, each writing and then reading a small
  * netCDF-4 dataset; prints `sums=<first>,<second>`. */
object ConfRestartProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sums = (1 to 2).map { _ =>
      val s = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        s.range(0, 100, 1, 2).select(col("id").as("coord"))
          .write.format("netcdf4").mode("overwrite").save(dir)
        s.read.format("netcdf4").load(dir).agg(sum("coord")).head().getLong(0)
      } finally s.stop()
    }
    println(s"sums=${sums.mkString(",")}")
  }
}
