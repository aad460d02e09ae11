package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Provider-level behavior both chunked containers share: the same
  * rule for a directory that holds no part files yet, for reads and
  * for streaming writes, and the same checks of the read options. */
class ChunkedSourceSpec extends AnyFunSuite with TimeLimits {
  import TestSession._

  private def reset(dirs: String*): Unit = dirs.foreach { d =>
    val p = new Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"))

  for (fmt <- Seq("netcdf3", "netcdf4")) {
    test(s"$fmt: batch read of an empty or missing dir fails naming the dir") {
      val empty = s"/tmp/graft_chunked_spec/$fmt/empty"
      val missing = s"/tmp/graft_chunked_spec/$fmt/missing"
      reset(empty, missing)
      val p = new Path(empty)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      Seq(empty, missing).foreach { d =>
        val e = intercept[IllegalArgumentException](spark.read.format(fmt).load(d))
        assert(e.getMessage.contains(d), e.getMessage)
      }
    }

    test(s"$fmt: writeStream into a dir that does not exist yet") {
      val src = s"/tmp/graft_chunked_spec/$fmt/sink_src"
      val out = s"/tmp/graft_chunked_spec/$fmt/sink_out"
      val ckpt = s"/tmp/graft_chunked_spec/$fmt/sink_ckpt"
      reset(src, out, ckpt)
      val rows = li.limit(300).repartition(2)
      rows.write.format(fmt).mode("overwrite").save(src)
      assert(!new java.io.File(out).exists())
      val q = spark.readStream.format(fmt).load(src)
        .drop("record")
        .writeStream.format(fmt)
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      val back = spark.read.format(fmt).load(out)
      assert(back.count() == 300L)
      assert(back.agg(sum("l_orderkey"), sum("l_quantity")).head() ==
        spark.read.format(fmt).load(src).agg(sum("l_orderkey"), sum("l_quantity")).head())
    }

    test(s"$fmt: recordsPerPartition must be a positive whole number") {
      val dir = s"/tmp/graft_chunked_spec/$fmt/opts"
      li.limit(100).repartition(1).write.format(fmt).mode("overwrite").save(dir)
      // zero used to step partitions by nothing, forever, on the driver
      for (bad <- Seq("0", "-3", "ten", "1e3")) failAfter(30.seconds) {
        val e = intercept[IllegalArgumentException] {
          spark.read.format(fmt).option("recordsPerPartition", bad).load(dir)
            .rdd.getNumPartitions
        }
        assert(e.getMessage.contains("recordsPerPartition") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      assert(spark.read.format(fmt).option("recordsPerPartition", "40").load(dir)
        .rdd.getNumPartitions == 3)
    }

    test(s"$fmt: a malformed arrayLens entry fails on the caller's thread, naming it") {
      val dir = s"/tmp/graft_chunked_spec/$fmt/arraylens"
      val df = spark.range(4).select(array(col("id").cast("double"), lit(1.0)).as("v"))
      // a task used to die on it: MatchError (no '=') or NumberFormatException
      for (bad <- Seq("v", "v=x")) {
        val e = intercept[IllegalArgumentException] {
          df.write.format(fmt).mode("overwrite").option("arrayLens", bad).save(dir)
        }
        assert(e.getMessage.contains("arrayLens") && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      }
    }

    test(s"$fmt: a row reader serves the rows of the columnar batches") {
      val dir = s"/tmp/graft_chunked_spec/$fmt/rows"
      spark.range(1000).select(col("id").as("k"), (col("id") * 0.5).as("x")).repartition(2)
        .write.format(fmt).mode("overwrite").save(dir)
      val df = spark.read.format(fmt).option("recordsPerPartition", "300").load(dir)
      val batch = df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.get.toBatch
      val factory = batch.createReaderFactory()
      val parts = batch.planInputPartitions().toSeq
      // inside tasks, as Spark would call it: each reader closes with its task
      val rows = spark.sparkContext.parallelize(parts, parts.length).mapPartitions(_.flatMap { p =>
        val reader = factory.createReader(p)
        Iterator.continually(reader).takeWhile(_.next()).map(_.get())
          .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2))).toList
      }).collect()
      assert(rows.sortBy(_._1).toSeq ==
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq)
      assert(rows.length == 1000)
    }

    test(s"$fmt: maxFilesPerTrigger must be a positive whole number") {
      val dir = s"/tmp/graft_chunked_spec/$fmt/opts"
      li.limit(100).repartition(1).write.format(fmt).mode("overwrite").save(dir)
      // zero admitted no file per batch: the stream never advanced
      for (bad <- Seq("0", "-1", "many", "3000000000")) {
        val e = intercept[IllegalArgumentException] {
          spark.readStream.format(fmt).option("maxFilesPerTrigger", bad).load(dir)
        }
        assert(e.getMessage.contains("maxFilesPerTrigger") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }
}
