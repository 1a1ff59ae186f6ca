package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** Shared session for all suites (one JVM-wide session, SURVEY §5.2.2). */
object TestSession {
  lazy val spark: SparkSession = Harness.session(Harness.fixtureCores)
  val sf0001 = Harness.sf0001
  val sf001 = Harness.sf001
  /** Bench-scale fixture — the largest SF checks run against. Tests that
    * read it should assume() it exists so a small checkout stays green. */
  val sf01 = Harness.sf01
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf0001
}
