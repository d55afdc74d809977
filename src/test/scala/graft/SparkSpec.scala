package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (SURVEY.md §5 strategy #2). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // SessionTuning: the specs run under the same engine tuning the
    // harness mains ship with (codegen cache, shuffle writer), both so
    // the suite validates that configuration and because the fixed-cost
    // fixes cut suite wall time too
    val s = SessionTuning.local("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
