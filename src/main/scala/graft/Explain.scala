package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Tuning tool: run one or more SparkEntry queries by name in the
  * bench's session and print wall times per run (build = DataFrame
  * construction, where eager staging writes and iterative rounds are
  * paid; cold = first count incl. JIT; warm = second count over the
  * same DataFrame — staging already done, so the delta IS the
  * staging/train cost). Usage:
  *   runMain graft.Explain <name[,name...]> [sfDir] [explain|noexplain|<planDir>] [reps]
  *
  * `explain` (the default) prints the AQE-final executed plan;
  * `<planDir>` instead writes each key's `.explain("formatted")` to
  * `<planDir>/<key>.txt`, so plan-shape claims in OPTIMIZATION_r*.md
  * are checkable against committed artifacts. `reps` (default 1)
  * repeats every key's build/cold/warm run in one warm session and
  * prints every run, not just the best, so staging-vs-steady-state
  * splits stay visible.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "explain"
    val planDir = Some(mode).filterNot(Set("explain", "noexplain"))
    val reps = if (args.length > 3) args(3).toInt else 1
    val spark = Session.build()
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    for (name <- names; rep <- 1 to reps) {
      val tb = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val bt = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.count()
      val dt2 = (System.nanoTime() - t1) / 1e9
      println(f"[explain] $name rows=$n build=$bt%.2fs cold=$dt%.2fs warm=$dt2%.2fs")
      if (rep == 1) planDir match {
        case Some(d) =>
          Files.write(Paths.get(d, s"$name.txt"),
            (s"== $name @ $sfDir (local[${Session.cpus}]) ==\n" +
              df.queryExecution.explainString(FormattedMode)).getBytes("UTF-8"))
        case None if mode == "explain" =>
          println(df.queryExecution.executedPlan.toString.take(12000))
        case None =>
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
