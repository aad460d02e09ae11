package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main runs in. The results
  * come from `Bench` and `Verify`; the probes explain those numbers
  * only while they run the same session, so the settings live here
  * once instead of in a hand-copied block per main. */
object Session {

  /** `SPARK_GRAFT_CPUS`: a whole number >= 1, or unset for the number
    * of available processors. Anything else fails here, naming the
    * variable, instead of as a `local[...]` master string deep inside
    * Spark. */
  private[graft] def cpus(env: Option[String], available: Int): Int =
    env.fold(available) { v =>
      Some(v.trim).filter(_.matches("[0-9]+")).flatMap(_.toIntOption).filter(_ >= 1)
        .getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a whole number >= 1, got '$v'"))
    }

  /** Local cores for this process: master `local[cpus]` and the
    * session's shuffle partitions. */
  lazy val cpus: Int =
    cpus(sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors())

  /** Session settings for `local[cpus]`, in builder order. */
  private[graft] def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    // events.parquet stores TIMESTAMP(NANOS); Tables.events converts
    // the raw longs to microseconds
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // a 345-query single-JVM session accumulates broadcast blocks
    // and shuffle state that ContextCleaner only drops after a
    // driver GC; with a large heap GC is rare, so state piles up
    // until multi-second full-GC cliffs stall whatever query is
    // running. Spark's own periodic-GC lever (default 30min —
    // longer than the whole bench) keeps cleanup continuous; 30s
    // (r4) taxed every query, 60s still bounds the backlog well
    // below full-GC-cliff territory.
    "spark.cleaner.periodicGC.interval" -> "60s",
    // Full-GC pauses plus heartbeat defaults (10s interval, 120s
    // network timeout) produced an RpcTimeout mid-bench in the r4
    // bench session. Local-mode RPCs are in-process; give them
    // headroom so a pause is a pause, not a session-killer.
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.rpc.askTimeout" -> "600s")

  /** Build (or join) the local session with [[settings]], then `extra`
    * pairs for a main's measurement-only settings; log level WARN. */
  def build(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    (settings(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
