package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03 — the MOSS device): hash every K-word gram, slide a
  * W-gram window, keep each window's MINIMUM hash. The guarantee that
  * makes it the standard plagiarism/contamination fingerprint: any
  * shared run of at least W+K-1 words between two documents is
  * guaranteed to select at least one common fingerprint (every length-W
  * window inside the run is identical in both), while the expected
  * density of selected fingerprints is only ~2/(W+1) — a fixed-rate
  * sample with a positional coverage guarantee, which a global MinHash
  * cannot give.
  *
  * Scale shape: entirely map-side per document (array expressions in
  * whole-stage codegen, no explode — the per-doc gram arrays never
  * shuffle); the output is one bounded row per doc. All hashing is md5
  * hex (lexicographic min agrees across engines), so the DuckDB oracle
  * replays the selection exactly. Docs shorter than K words carry no
  * gram and are excluded in both engines. */
object Winnowing {

  type Q = (SparkSession, String) => DataFrame

  private val K = 3 // words per gram
  private val W = 4 // grams per winnow window

  /** The fingerprint extraction as a pure per-row map (shared by the
    * batch key, its r12 streaming twin, and the r15 unicode twin —
    * the whole winnow runs inside the row's own gram arrays; `ws`
    * overrides the token array). */
  private[graft] def winnowOf(docs: DataFrame,
      ws: Column = split(col("text"), " ")): DataFrame =
    docs
      .withColumn("ws", ws)
      .filter(size(col("ws")) >= K)
      .withColumn("ng", (size(col("ws")) - (K - 1)).cast(LongType))
      .withColumn("hs", graft.functions.NgramExpressions.array_md5(graft.functions.NgramExpressions.word_ngrams(col("ws"), K)))
      .withColumn("fps", array_sort(array_distinct(
        graft.functions.NgramExpressions.winnow_mins(col("hs"), W))))
      .select(col("doc_id"), col("ng").as("n_grams"),
        size(col("fps")).cast(LongType).as("n_fps"),
        md5(concat_ws(",", col("fps"))).as("fp_digest"))

  def textWinnowFingerprint: Q = (s, dir) => winnowOf(t(s, dir, "documents"))

  /** The fingerprint SQL over an arbitrary docs relation and token
    * expression (r15 — the unicode twin winnows `udocs` with the
    * shared regex; the gram/window chain is rendered once here). */
  private[operators] def textWinnowFingerprintSqlFrom(wsExpr: String,
      from: String, withPrefix: String): String = {
    val gram = (0 until K).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""WITH ${withPrefix}g AS (
       |  SELECT doc_id, CAST(len(ws) - ${K - 1} AS BIGINT) AS ng,
       |    list_transform(generate_series(1, len(ws) - ${K - 1}),
       |      i -> md5($gram)) AS hs
       |  FROM (SELECT doc_id, $wsExpr AS ws FROM $from)
       |  WHERE len(ws) >= $K),
       |w AS (
       |  SELECT doc_id, ng,
       |    list_sort(list_distinct(list_transform(
       |      generate_series(1, greatest(ng - ${W - 1}, 1)),
       |      i -> list_min(list_slice(hs, i, i + ${W - 1}))))) AS fps
       |  FROM g)
       |SELECT doc_id, ng AS n_grams, CAST(len(fps) AS BIGINT) AS n_fps,
       |  md5(array_to_string(fps, ',')) AS fp_digest
       |FROM w""".stripMargin
  }

  val textWinnowFingerprintSql: String =
    textWinnowFingerprintSqlFrom("string_split(text, ' ')", "documents", "")

  /** Winnowing fingerprints appearing in more than MAX_DF documents
    * are boilerplate (stop-phrases), not copy signal — and an
    * inverted-index self-join on one contributes O(df²) pairs. Same
    * bound and broadcast-anti removal as Dedup.MAX_DF. */
  private val MAX_DF = 64

  /** Minimum shared (df-capped) fingerprints for a candidate pair —
    * one shared window-min can be chance; two distinct selections mean
    * two independent shared runs (or one long one). */
  private val MIN_SHARED = 2

  /** The (doc_id, fp) selected-fingerprint table — the MOSS-style
    * fingerprint INDEX the pair join probes (split out in r16 so the
    * gated keys can stage it per session, the `sh3`/`sh4` posture). */
  private def winnowFpsOf(docs: DataFrame, ws: Column): DataFrame =
    docs
      .withColumn("ws", ws)
      .filter(size(col("ws")) >= K)
      .withColumn("hs", graft.functions.NgramExpressions.array_md5(graft.functions.NgramExpressions.word_ngrams(col("ws"), K)))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.NgramExpressions.winnow_mins(col("hs"), W))).as("fp"))

  /** Winnowing candidate pairs — the USE of the fingerprints: docs
    * sharing ≥ MIN_SHARED df-capped fingerprints are substring-level
    * near-dup candidates (each shared fingerprint certifies a shared
    * word run, positionally — the thing Jaccard-over-shingles cannot
    * certify). Pipeline: per-doc fingerprint arrays stay map-side,
    * explode only the selected ~2/(W+1) density, df-cap with a
    * broadcast anti-join, then ONE keyed self-join on fingerprint with
    * per-bucket membership ≤ MAX_DF — never all-pairs. */
  private def winnowPairsFrom(fps: DataFrame): DataFrame = {
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > MAX_DF).select("fp")
    val capped = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    capped.toDF("fp", "id_a")
      .join(capped.toDF("fp", "id_b"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MIN_SHARED)
  }

  /** Session-staged ASCII fingerprint index (r16 optimization round). */
  Staged.register("winnow_fps")((s, dir) => { winnowFpsStaged(s, dir); () })
  private def winnowFpsStaged(s: SparkSession, dir: String): DataFrame =
    Staged.table(s, dir, "winnow_fps", coalesce = false)(
      winnowFpsOf(t(s, dir, "documents"), split(col("text"), " ")))

  /** Session-staged unicode fingerprint index (r16 — the uni twin,
    * symmetric so the pinned plan shapes stay identical). */
  Staged.register("winnow_fps_uni")((s, dir) => { winnowFpsUniStaged(s, dir); () })
  private[operators] def winnowFpsUniStaged(s: SparkSession, dir: String): DataFrame =
    Staged.table(s, dir, "winnow_fps_uni", coalesce = false)(
      winnowFpsOf(UniText.unionedToks(s, dir), col("toks"))) // r17: shared staged tokenize

  def dedupWinnowPairs: Q = (s, dir) => winnowPairsFrom(winnowFpsStaged(s, dir))

  /** Unicode pair key over the staged uni fingerprint index (called
    * from [[UniText]]). */
  private[operators] def dedupWinnowPairsUniStaged(s: SparkSession, dir: String): DataFrame =
    winnowPairsFrom(winnowFpsUniStaged(s, dir))

  /** The pair SQL over an arbitrary docs relation and token
    * expression (r15 — shared with the unicode twin). */
  private[operators] def dedupWinnowPairsSqlFrom(wsExpr: String,
      from: String, withPrefix: String): String = {
    val gram = (0 until K).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""WITH ${withPrefix}g AS (
       |  SELECT doc_id, len(ws) - ${K - 1} AS ng,
       |    list_transform(generate_series(1, len(ws) - ${K - 1}),
       |      i -> md5($gram)) AS hs
       |  FROM (SELECT doc_id, $wsExpr AS ws FROM $from)
       |  WHERE len(ws) >= $K),
       |fps AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(ng - ${W - 1}, 1)),
       |    i -> list_min(list_slice(hs, i, i + ${W - 1}))))) AS fp
       |  FROM g),
       |capped AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps)
       |  WHERE df <= $MAX_DF)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
       |FROM capped a JOIN capped b
       |  ON b.fp = a.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $MIN_SHARED""".stripMargin
  }

  val dedupWinnowPairsSql: String =
    dedupWinnowPairsSqlFrom("string_split(text, ' ')", "documents", "")

  val queries: Map[String, Q] = Map(
    "text_winnow_fingerprint" -> textWinnowFingerprint,
    "dedup_winnow_pairs" -> dedupWinnowPairs)
  val oracles: Map[String, String] = Map(
    "text_winnow_fingerprint" -> textWinnowFingerprintSql,
    "dedup_winnow_pairs" -> dedupWinnowPairsSql)
}
