package graft

/** Times ONE cold prestage pass at the given data dir — the bench's
  * staging_sec line item in isolation, for iterating on builder cost
  * and pool shape without paying a full 345-key bench per experiment.
  * Scratch is keyed on applicationId, so every invocation rebuilds
  * from the parquet inputs (no cross-run reuse — the house rule). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.build()
    // force operator object init (fills the Staged registry) exactly
    // like the bench's warmup does
    SparkEntry.queries
    val t0 = System.nanoTime()
    val staged = graft.operators.Staged.prestage(spark, dir)
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[stage-probe] ${staged.size} artifacts, wall $wall%.1f s: " +
      staged.sortBy(-_._2).map { case (t, s) => f"$t=$s%.2f" }.mkString(" "))
    println(f"""{"metric":"staging","value":$wall%.3f,"unit":"sec","n":${staged.size}}""")
    spark.stop()
  }
}
