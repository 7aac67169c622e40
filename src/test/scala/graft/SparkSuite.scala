package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session: Spark
  * startup dominates test wall-clock otherwise), built by GraftSession
  * like Verify's and Bench's. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** Four cores whatever SPARK_GRAFT_CPUS says, so plan shapes the
    * specs pin do not move with the machine. */
  lazy val session: SparkSession = GraftSession(cpus = 4)
}
