package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session every suite shares (one per forked test JVM). Fixed at
  * 4 cores: suites assume 4 shuffle partitions. */
trait SparkSpecBase extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.core.GraftSession(4)
}
