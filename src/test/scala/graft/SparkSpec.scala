package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite base (guide: one lazy SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
  lazy val sf: String = "/root/testdata/sf0.001"
}
