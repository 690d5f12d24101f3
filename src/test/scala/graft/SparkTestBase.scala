package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** The session Bench ships ([[Sessions.local]]), on a fixed 4 cores so a
    * suite's partition counts do not follow the host.
    */
  lazy val session: SparkSession = Sessions.local(cpus = 4)
}
