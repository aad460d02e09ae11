package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-volume audit (SURVEY.md §4): the quantitative form of the
  * bounded-shuffle claims. For each headline key, runs the query once
  * at sf0.1 and once on the 10× replicated dir and records the actual
  * bytes moved — input read, shuffle write — from stage task metrics.
  *
  * The claim under test: shuffle volume grows AT MOST linearly with
  * input (ratio ≤ ~10 at 10× data), because every pair-generating
  * operator is bucket/band/key-bounded and every dictionary join is
  * broadcast. A super-linear shuffle ratio is the smoking gun of an
  * all-pairs or re-fan-out shape that wall-clock benches can hide
  * behind parallelism — this audit sees the bytes themselves.
  *
  * Writes SHUFFLE_AUDIT.json. Run AFTER a warm pass (the once-per-
  * session staged artifacts build during warm), matching the bench
  * convention: the measured pass is the steady-state per-query cost.
  */
object ShuffleAudit {

  private val KEYS = Seq(
    "q5_join5", "q17_events_hourly", "dedup_minhash_lsh", "dedup_clusters",
    "sim_sq_int8", "sim_ivf_pq", "text_bm25_topk", "text_bpe_train",
    "sketch_hll", "dedup_cdc", "grid_interpolate", "pipeline_keep_list",
    "dedup_substring_spans", "pipeline_dsir", "pipeline_nb_classifier",
    "dedup_ngram_topm", "pipeline_ccnet_buckets", "pipeline_span_removal",
    "grid_convolve", "dedup_minhash_topm",
    // r12 session-2: the JS drift's one-corpus-pass + vocab-join claim
    // and the zonal-stats chunk-aligned join — both must read ~linear
    "text_js_drift", "grid_zonal_stats",
    // r13: the de-windowed proto-prune must move ~linear bytes (r12
    // verdict #1 'done' criterion), and the worst 10x wall entry gets
    // its byte-level reading (r12 verdict #3)
    "pipeline_proto_prune", "dedup_incremental", "dedup_editdist_full",
    // r14 (r13 verdict #6): the r13 10x-table top entry, now single-
    // corpus-scan via the staged tf table
    "text_tfidf_topk",
    // r15: the domain-cap histogram-cut — one corpus shuffle into a
    // sum-carrying histogram, broadcast-pruned tie pass
    "pipeline_source_quota",
    // r15b: the vocabulary-growth curve — the exploded-gram
    // min(doc_id) agg is its only corpus-sized shuffle; the 10-row
    // histogram tail must add nothing
    "text_heaps_fit",
    // r15b: the held-out reliability ledger — DSIR's feature-extract
    // shuffle shape on the two training sources, then broadcast-only
    "pipeline_nb_calibration",
    // r16: the A-ES top-K claims ZERO corpus shuffle (per-partition
    // bounded heap — the audit row should read ~no shuffle bytes at
    // either leg), and the semantic-decon ledger claims broadcast
    // probes + slim-row per-doc max (shuffle = one row per embedded
    // doc, rate flat in corpus bytes)
    "pipeline_sample_weighted", "pipeline_decontaminate_semantic")

  /** `organic` mode: the rows the replica audit flags super-linear —
    * near-dup edge sets and posting lists, which clone-dense replicas
    * inflate BY DATA PROPERTY — re-measured on organically-grown 10×
    * data (new entities from the base generating process). ~Linear
    * readings here pin that the engine adds no super-linear shuffle
    * of its own; grid keys ride along as the halo-exchange control. */
  private val ORGANIC_KEYS = Seq(
    "dedup_clusters", "dedup_ngram_topm", "text_bm25_topk",
    "dedup_minhash_lsh", "grid_convolve", "grid_interpolate",
    // pair-table consumers: their replica-audit shuffle ratios track
    // the staged pair table's clone-density growth, not engine work
    "dedup_minhash_topm", "pipeline_keep_list",
    // r13 (r12 verdict #3): the worst 10x wall entry — organic growth
    // decides whether 7.04x was clone density or the engine
    "dedup_incremental",
    // r13: the escalation verifier tops the honest 10x table (7.9x on
    // replicas — pair-table size is clone-density-driven by design)
    "dedup_editdist_full",
    // r14 (r13 verdict #6): tfidf's replica ratio tracks df growth in
    // clone-dense data; organic growth measures the engine's own rate
    "text_tfidf_topk",
    // r15b: the unicode scrub's 5.4× replica wall is the same df-
    // growth class (replica-marked text multiplies the shared-segment
    // set); the organic row measures the engine's own rate
    "text_segment_dedup_uni",
    // r16 (r15 verdict #4): the two r15b diagnostics had replicated-leg
    // rows only — organic legs pin that their corpus-pass shuffle rates
    // hold on organically-grown data too (the replica-vs-organic
    // distinction is exactly what exonerated text_segment_dedup_uni)
    "pipeline_nb_calibration", "text_heaps_fit")

  /** `x100` mode (r15, r14 verdict #6): shuffle-byte rates TWO decades
    * up for the two largest 100×-probe walls — the keys whose
    * wall-clock sublinearity the byte-level audit should confirm (or
    * convict) at the scale the probe actually ran. Same self-defending
    * rate columns; the big leg is the 100× wide-replicated dir. */
  private val X100_AUDIT_KEYS = Seq("grid_pyramid", "sim_ann_cascade",
    // r15b: the new worst 100×-probe wall (30.2× for 100× data) — the
    // byte leg decides whether that is the gram inventory growing
    // with the data (replica-marked text mints new grams) or the
    // engine adding super-linear shuffle of its own
    "text_heaps_fit")

  def main(args: Array[String]): Unit = {
    val organic = args.contains("organic")
    val x100 = args.contains("x100")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir =
      if (x100) "/tmp/graft_x100_synth"
      else if (organic) "/tmp/graft_organic_synth"
      else "/tmp/graft_sf1_synth"
    val spark = Session.build(
      // r14 (r13 verdict #1): pin BOTH audit legs to the same join
      // strategy family. Size-triggered auto-broadcast flips made the
      // small-leg denominator incomparable (r13's dedup_incremental
      // organic row read 32x only because AQE broadcast a corpus-sized
      // side at sf0.1 — legal there, impossible at corpus scale).
      // Explicit broadcast() hints — the engine's DELIBERATE bounded-
      // dict broadcasts — are unaffected by these thresholds.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // r15 (r14 verdict #6 root-cause): parquet-hadoop 1.16 defaults
      // vectored IO ON, and its range reads are served off the task
      // thread — the per-thread FS statistics behind bytesRead then
      // see only the footer reads (an r15 A/B of one parquet scan in
      // one JVM counted 0.2-0.7% of disk bytes with it on, 100.1%
      // with it off). The input-byte DENOMINATOR of every rate
      // column needs the real bytes, so the audit session scans
      // without vectored IO. This is measurement fidelity only — the
      // engine under bench/verify keeps the (faster) default.
      "spark.hadoop.parquet.hadoop.vectored.io.enabled" -> "false")
    if (!new java.io.File(s"$bigDir/documents.parquet").exists()) {
      if (x100) BenchSf1.replicateWide(spark, srcDir, bigDir, 100, Session.cpus * 2)
      else if (organic) BenchSf1.organicGrow(spark, srcDir, bigDir, 10)
      else BenchSf1.replicate(spark, srcDir, bigDir, 10)
    }

    val shufW = new AtomicLong(0)
    val inB = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inB.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })

    def measure(name: String, dir: String): (Long, Long) = {
      spark.sharedState.cacheManager.clearCache()
      shufW.set(0); inB.set(0)
      SparkEntry.queries(name)(spark, dir).count()
      // listener events are posted asynchronously; drain before reading
      org.apache.spark.GraftListenerBusAccess.drain(spark.sparkContext)
      (inB.get(), shufW.get())
    }

    // warm: build staged artifacts + JIT so the measured pass is the
    // steady-state per-query cost (bench convention)
    val auditKeys =
      if (x100) X100_AUDIT_KEYS else if (organic) ORGANIC_KEYS else KEYS
    val bigField = if (x100) "x100" else "x10"
    auditKeys.foreach(k => measure(k, srcDir))
    auditKeys.foreach(k => measure(k, bigDir))
    val rows = auditKeys.map { k =>
      val (in1, sh1) = measure(k, srcDir)
      val (in10, sh10) = measure(k, bigDir)
      val shr = if (sh1 > 0) sh10.toDouble / sh1 else -1.0
      val inr = if (in1 > 0) in10.toDouble / in1 else -1.0
      // per-input byte RATES (r14, r13 verdict #1): the self-defending
      // columns — a row is linear iff the two rates match, regardless
      // of what the raw ratio reads on a tiny denominator
      val rate1 = if (in1 > 0) sh1.toDouble / in1 else -1.0
      val rate10 = if (in10 > 0) sh10.toDouble / in10 else -1.0
      f""""$k":{"sf01_input_b":$in1,"sf01_shuffle_b":$sh1,""" +
        f""""${bigField}_input_b":$in10,"${bigField}_shuffle_b":$sh10,""" +
        f""""input_ratio":$inr%.2f,"shuffle_ratio":$shr%.2f,""" +
        f""""sf01_shuffle_b_per_input_b":$rate1%.4f,""" +
        f""""${bigField}_shuffle_b_per_input_b":$rate10%.4f}"""
    }
    val mode =
      if (x100) "100x wide-replicated" else if (organic) "10x organic" else "10x replicated"
    val json = s"""{"metric":"shuffle_audit","input":"$mode $srcDir",""" +
      s""""queries":{${rows.mkString(",")}}}"""
    val outFile =
      if (x100) "SHUFFLE_AUDIT_X100.json"
      else if (organic) "SHUFFLE_AUDIT_ORGANIC.json" else "SHUFFLE_AUDIT.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"/root/repo/$outFile"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
