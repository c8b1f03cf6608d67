package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session base for specs: one JVM-wide SparkSession (getOrCreate)
  * configured by GraftSession (UTC, AQE, nanosAsLong for the events fixture).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local()
}
