package graft

import graft.operators.Staged
import org.scalatest.funsuite.AnyFunSuite

/** The prestage pool size and its `SPARK_GRAFT_STAGE_THREADS` override. */
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
}
