package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-staged derived-table device (r6 grid source index, r8
  * quantizers/codebooks/LSH artifacts): a table that a real pipeline
  * computes once at index-build or ingest time — not per query — is
  * built on first touch per (session, sfDir), written to the
  * session's scratch namespace as parquet, and read by every
  * consumer thereafter. Parquet roundtrips doubles and longs
  * bit-exactly, so staged results stay hash-identical to inline
  * computation; the scratch path embeds the Spark applicationId, so
  * concurrent sessions never share (or clobber) artifacts. */
object Staged {

  /** Per-key build gate. r13 (r12 ADVICE): the build used to run
    * INSIDE ConcurrentHashMap.computeIfAbsent, which holds the bin
    * lock for the whole Spark job — unrelated keys hashing to the same
    * bin blocked for minutes, and a staged build that transitively
    * touched another staged table would have violated the CHM contract
    * (recursive update). Now the map mutation is a lock-free
    * putIfAbsent of a latch: exactly one caller wins and builds OUTSIDE
    * any map lock, later callers await the latch, and nested
    * Staged.table calls from inside a build are safe (different key →
    * its own latch; same key → caller already holds the build slot and
    * would deadlock ONLY on true self-recursion, which is a bug
    * upstream regardless). A failed build removes its latch so the
    * next caller retries instead of reading a half-written artifact. */
  private val done = new ConcurrentHashMap[String, CountDownLatch]()

  /** Artifact builders by tag, for [[prestage]]: operators register
    * the same build they run on first touch, so a bench harness can
    * charge index-build cost to its own line item instead of whichever
    * query happens to touch the artifact first. Registration happens
    * in operator object initializers (forced by SparkEntry.queries). */
  private val registry =
    new ConcurrentHashMap[String, (SparkSession, String) => Unit]()

  def register(tag: String)(touch: (SparkSession, String) => Unit): Unit =
    registry.putIfAbsent(tag, touch)

  /** Build every registered artifact for `dir` (idempotent — a warm
    * artifact costs one parquet-footer read). Returns (tag, seconds)
    * in tag order, so the caller can report staging honestly.
    *
    * r17 (guide §2.6 "overlap independent jobs", r16 VERDICT item 3 —
    * staging wall doubled to 56 s and became a real cost): the
    * builders are independent small Spark jobs that leave most of the
    * machine idle at their stage tails, so they run from a bounded
    * thread pool and back-fill each other — Spark's FIFO scheduler
    * gives the earlier job resources first and later jobs use the
    * tail slack, which is exactly the §2.6 posture. Dependencies
    * between artifacts (lsh_clusters → lsh_pairs → sh3, dsir_lam →
    * pdb_feats, …) stay correct by construction: a dependent build
    * calls the dependency's [[table]], whose latch admits exactly one
    * builder and blocks the rest. Per-tag seconds are therefore
    * OWN-THREAD LATENCY (a tag that waited on a dependency reports
    * build+wait); the honest aggregate is the caller's wall clock
    * around this call. */
  def prestage(s: SparkSession, dir: String): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    val tags = registry.asScala.toSeq.sortBy(_._1)
    // r17 StageProbe sweep at sf0.1/local[32] AFTER the builder
    // kernels landed: 2 threads → 32.5 s, 4 → 20.5, 6 → 18.2,
    // 8 → 17.4 — overlap pays once no single builder is CPU-dense
    // enough to be starved. (Before the simhash64 kernel, ONE
    // interpreted 64-HOF builder under an 8-deep pool stretched
    // 6.95 s → 70 s and the wall BEAT sequential staging — fix the
    // expensive builder first, then overlap; guide §2.6 with its own
    // warning applied.) Env override for deployments whose builders
    // saturate the cluster differently.
    val threads = stageThreads(sys.env.get("SPARK_GRAFT_STAGE_THREADS"),
      Runtime.getRuntime.availableProcessors())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = tags.map { case (tag, touch) =>
        tag -> pool.submit(new java.util.concurrent.Callable[Double] {
          override def call(): Double = {
            val t0 = System.nanoTime()
            touch(s, dir)
            (System.nanoTime() - t0) / 1e9
          }
        })
      }
      futures.map { case (tag, f) => tag -> f.get() }
    } finally pool.shutdown()
  }

  /** Prestage pool size: `min(8, cores / 4)`, at least 2, unless the
    * `SPARK_GRAFT_STAGE_THREADS` override is a whole number >= 1. A bad
    * override falls back to the default with a warning on stderr. */
  private[graft] def stageThreads(env: Option[String], cores: Int): Int = {
    val default = math.max(2, math.min(8, cores / 4))
    env.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse {
        System.err.println(s"[staged] ignoring SPARK_GRAFT_STAGE_THREADS='$v' " +
          s"(not a whole number >= 1); using $default threads")
        default
      }
    }
  }

  /** `coalesce=true` for metadata-sized artifacts (centroid tables,
    * codebooks — one tidy file); false for corpus-row-sized ones
    * (signature tables) that should keep their natural partitioning. */
  def table(s: SparkSession, dir: String, tag: String, coalesce: Boolean = true)(
      build: => DataFrame): DataFrame = {
    val out = graft.sources.netcdf.NcQueries.scratch(s, dir, tag)
    ensure(out) {
      val df = build
      (if (coalesce) df.coalesce(1) else df)
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(out)
  }

  @annotation.tailrec
  private def ensure(key: String)(build: => Unit): Unit = {
    val latch = new CountDownLatch(1)
    val prev = done.putIfAbsent(key, latch)
    if (prev == null) {
      var ok = false
      try { build; ok = true }
      finally {
        if (!ok) done.remove(key, latch)
        latch.countDown()
      }
    } else {
      // r14 (r13 ADVICE): after awaiting, a bare containsKey check
      // raced — if the awaited builder FAILED and a third caller had
      // already installed a NEW in-flight latch, containsKey was true
      // and we returned while the artifact was still half-written.
      // Follow the latch chain instead: only a latch that is BOTH
      // open AND still the map's resident entry proves a successful
      // build survived.
      var cur = prev
      var settled = false
      while (!settled) {
        cur.await()
        done.get(key) match {
          case null => settled = true // failed + not yet retried: we retry
          case same if same eq cur => return // our awaited build succeeded
          case next => cur = next // a retry is in flight: await it too
        }
      }
      ensure(key)(build)
    }
  }
}
