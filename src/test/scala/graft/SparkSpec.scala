package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates test wall-time otherwise). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Harness.session(4, Map(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" -> // static conf — must be set here
        java.nio.file.Files.createTempDirectory("graft_wh").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
