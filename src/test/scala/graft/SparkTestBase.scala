package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate returns the
  * same session; ScalaTest runs suites in one JVM with Test/fork=true).
  * It is Bench's profile at a fixed 4 cores, so plan-shape assertions do
  * not follow the host's core count.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // a static conf, so a system property read when the first session
    // is built; keeps any managed table out of the checkout
    System.setProperty("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    Bench.session("4")
  }

  def sf(name: String) = s"/root/testdata/$name"
}
