package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4, None)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
