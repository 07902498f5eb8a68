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

  /** Run `body` with one session conf set, then restore its prior value. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with broadcasts — and with them `Fixpoint`'s local finish — off. */
  def withoutBroadcast[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
}
