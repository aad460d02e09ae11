package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session builder: `SPARK_GRAFT_CPUS` parsing, the settings
  * the bench relies on, and that no other main builds its own. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset uses the available processors, a whole number is taken") {
    assert(Session.cpus(None, available = 6) == 6)
    assert(Session.cpus(Some("32"), available = 6) == 32)
    assert(Session.cpus(Some(" 1 "), available = 6) == 1)
  }

  test("SPARK_GRAFT_CPUS: anything else throws, naming the variable and the value") {
    for (bad <- Seq("abc", "", "0", "-4", "2.5", "4x", "99999999999")) {
      val e = intercept[IllegalArgumentException](Session.cpus(Some(bad), available = 6))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the session carries the bench's settings") {
    val conf = Session.settings(cpus = 6).toMap
    assert(Session.settings(cpus = 6).size == conf.size, "a setting is listed twice")
    assert(conf == Map(
      "spark.sql.shuffle.partitions" -> "6",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.cleaner.periodicGC.interval" -> "60s",
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.rpc.askTimeout" -> "600s"))
  }

  test("exactly one file under src/main/scala sets a master") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val setters = files(root).filter(_.getName.endsWith(".scala")).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains(".master(") finally src.close()
    }
    assert(setters.map(_.getName) == Seq("Session.scala"), setters)
  }

  test("src/main/scala holds exactly 7 mains") {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val mains = files(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try f.getName -> """def main\(""".r.findAllMatchIn(src.mkString).size finally src.close()
      }
      .filter(_._2 > 0)
    assert(mains.map(_._2).sum == 7, mains)
  }
}
