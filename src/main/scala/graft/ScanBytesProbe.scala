package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Audit-fidelity probe (r15, r14 verdict #6 root-cause): does
  * `inputMetrics.bytesRead` actually see the bytes a parquet scan
  * reads? parquet-hadoop 1.16 defaults `parquet.hadoop.vectored.io
  * .enabled=true`, and Hadoop vectored range reads are served off the
  * task thread, so the per-thread FileSystem.Statistics snapshot that
  * backs Spark's bytesRead callback can miss the column-chunk bytes
  * entirely (footers, read on the task thread, still count — which is
  * exactly the footer-sized undercount the x100 grid_pyramid row
  * showed). This main A/B-tests one parquet directory in one JVM:
  * the reader option merges into the per-relation Hadoop conf, so leg
  * A scans with vectored IO (the default) and leg B with it disabled;
  * the on-disk byte total is the ground truth both legs are judged
  * against.
  *
  * Usage: runMain graft.ScanBytesProbe <parquetDir> [moreDirs...]
  */
object ScanBytesProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScanBytesProbe <parquetDir> [more...]")
    val spark = Session.build()

    val inB = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) inB.addAndGet(m.inputMetrics.bytesRead)
      }
    })

    def measure(dir: String, vectored: Boolean): Long = {
      inB.set(0)
      spark.read
        .option("parquet.hadoop.vectored.io.enabled", vectored.toString)
        .parquet(dir)
        // force every column off disk — a bare count() can satisfy
        // itself from row-group metadata and read ~nothing
        .selectExpr("bit_xor(xxhash64(struct(*)))")
        .collect()
      org.apache.spark.GraftListenerBusAccess.drain(spark.sparkContext)
      inB.get()
    }

    def diskBytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(new java.io.File(dir))
    }

    args.foreach { dir =>
      // warm both legs (JIT + footer cache), then measure
      measure(dir, vectored = true); measure(dir, vectored = false)
      val on = measure(dir, vectored = true)
      val off = measure(dir, vectored = false)
      val disk = diskBytes(dir)
      println(f"""{"dir":"$dir","disk_b":$disk,"bytes_read_vectored_on":$on,""" +
        f""""bytes_read_vectored_off":$off,""" +
        f""""on_frac_of_disk":${on.toDouble / disk}%.4f,""" +
        f""""off_frac_of_disk":${off.toDouble / disk}%.4f}""")
    }
    spark.stop()
  }
}
