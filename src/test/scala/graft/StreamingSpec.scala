package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Drives the real streaming operators (readStream → transform →
  * memory sink) and checks them against their batch twins. */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  private def eventsBatch = Tables.events(spark, sf)

  /** FileStreamSource needs a directory: stage the events file into a
    * temp dir once, then stream it. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_events")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** Stream the events table as parquet-backed file stream with the
    * post-conversion schema. */
  private def eventsStream = {
    // stream the raw files, then apply the same ts normalization the
    // batch loader (Tables.events) does: nanos-long → µs timestamp, or
    // NTZ → session-tz (UTC) timestamp, depending on the testdata
    // generation's parquet physical type
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(streamDir)
    raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  test("stream_window_agg matches its batch twin through a memory sink") {
    val q = Streams.windowAgg(eventsStream)
      .writeStream.outputMode("complete").format("memory").queryName("swa")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("swa")
    val batch = Streams.streamWindowAgg(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream_dedup emits one first-event row per key") {
    val q = Streams.dedup(eventsStream)
      .writeStream.outputMode("append").format("memory").queryName("sdd")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sdd")
    val batchKeys = Streams.streamDedup(spark, sf)
    assert(streamed.count() == batchKeys.count())
    // streamed keeps exactly one row per (user_id, event_type)
    assert(streamed.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("netcdf3 micro-batch stream ingests files incrementally") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = "/tmp/graft_nc_stream/src"
    val dir = "/tmp/graft_nc_stream/in"
    // produce two single-part .nc files with distinct value ranges
    graft.sources.netcdf.NcIO.write(
      spark.range(0, 100).select(col("id").cast("double").as("x")).repartition(1), src)
    Files.createDirectories(Paths.get(dir))
    Paths.get(dir).toFile.listFiles().foreach(_.delete())
    Files.copy(Paths.get(s"$src/part-00000.nc"), Paths.get(s"$dir/batch-a.nc"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream
      .format("graft.sources.netcdf.NetCDF3Source")
      .load(dir)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ncstream").start()
    q.processAllAvailable()
    assert(spark.table("ncstream").count() == 100)
    // second file arrives: only the delta is ingested, record ids extend
    graft.sources.netcdf.NcIO.write(
      spark.range(100, 150).select(col("id").cast("double").as("x")).repartition(1), src)
    Files.copy(Paths.get(s"$src/part-00000.nc"), Paths.get(s"$dir/batch-b.nc"),
      StandardCopyOption.REPLACE_EXISTING)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ncstream")
    assert(out.count() == 150)
    assert(out.select("record").distinct().count() == 150)
    assert(out.agg(min("x"), max("x")).head() == org.apache.spark.sql.Row(0.0, 149.0))
  }

  test("stream_nc_ingest query is rerunnable in one session (bench runs it twice)") {
    val r1 = graft.sources.netcdf.NcQueries.queries("stream_nc_ingest")(spark, sf).collect()
    val r2 = graft.sources.netcdf.NcQueries.queries("stream_nc_ingest")(spark, sf).collect()
    assert(r1.sameElements(r2))
    assert(r1.head.getLong(0) > 0)
  }

  test("stream_interval_join matches its batch twin through a memory sink") {
    val q = Streams.intervalJoin(eventsStream)
      .writeStream.outputMode("append").format("memory").queryName("sij")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sij")
    val batch = Streams.streamIntervalJoin(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream_sessionize emits closed sessions consistent with the batch twin") {
    import spark.implicits._
    val evs = eventsStream
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"), col("ts"))
      .as[Streams.Ev]
    val q = Streams.sessionize(evs)
      .writeStream.outputMode("append").format("memory").queryName("ssz")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssz")
      .select(col("user_id"), col("session_start_us"), col("n_events"))
    // batch twin's sessions keyed by (user, start µs, count)
    val batch = queries.Relational.q18Sessionize(spark, sf)
      .select(col("user_id"), expr("unix_micros(start_ts)").as("session_start_us"),
        col("n_events"))
    // every emitted session must exist in the batch result...
    assert(streamed.exceptAll(batch).isEmpty)
    // ...and at least every session closed by a successor was emitted
    // (event-time timeouts may flush more once the watermark passes)
    val totalSessions = batch.count()
    val nUsers = batch.select("user_id").distinct().count()
    assert(streamed.count() >= totalSessions - nUsers)
  }
}
