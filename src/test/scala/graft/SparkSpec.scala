package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (sf0.001 fixtures — smoke scale). */
trait SparkSpec extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The factory's engine on 4 local cores. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
