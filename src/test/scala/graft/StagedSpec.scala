package graft

import graft.operators.Staged
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Prestage: the pool size, its `SPARK_GRAFT_STAGE_THREADS` override,
  * and a failing builder. */
class StagedSpec extends AnyFunSuite {

  test("a valid override sets the prestage pool size") {
    assert(Staged.stageThreads(Some("3"), cores = 32) == 3)
    assert(Staged.stageThreads(Some(" 1 "), cores = 32) == 1)
  }

  test("no override: min(8, cores / 4), at least 2") {
    assert(Staged.stageThreads(None, cores = 32) == 8)
    assert(Staged.stageThreads(None, cores = 64) == 8)
    assert(Staged.stageThreads(None, cores = 4) == 2)
  }

  test("a non-numeric or non-positive override falls back to the default") {
    for (bad <- Seq("eight", "", "2.5", "0", "-4"))
      assert(Staged.stageThreads(Some(bad), cores = 32) == 8, bad)
  }

  test("a failed builder is reported against its tag; every other tag still finishes") {
    // explicit builders, not the global registry: other suites prestage
    // through the registry and must never see a throwing builder
    val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def ok(tag: String): (SparkSession, String) => Unit = (_, _) => {
      Thread.sleep(100)
      built.add(tag)
    }
    val err = new java.io.ByteArrayOutputStream()
    val prior = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val staged =
      try Staged.build(TestSession.spark, "dirX", Seq(
        "a_ok" -> ok("a_ok"),
        "b_boom" -> ((_, _) => throw new IllegalStateException("no artifact")),
        "c_ok" -> ok("c_ok")))
      finally System.setErr(prior)
    assert(staged.map(_._1) == Seq("a_ok", "c_ok"))
    assert(staged.forall(_._2 >= 0.1), staged)
    assert(built.contains("a_ok") && built.contains("c_ok"))
    val log = err.toString("UTF-8")
    assert(log.contains("b_boom") && log.contains("no artifact"), log)
    assert(!log.contains("a_ok") && !log.contains("c_ok"), log)
  }
}
