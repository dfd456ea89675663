package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per sbt test run). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

/** Built through the mains' own factory at 4 cpus, so specs run under the
  * confs the mains use. */
object SparkSpec {
  lazy val session: SparkSession = graft.exec.Session(4)
}
