package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy local session per suite; UTC + small shuffle partitions to
  * match the driver harness. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // the harness session at 4 slots, whatever $SPARK_GRAFT_CPUS says:
    // its one task retry is what the w24 fault-injection specs need
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
