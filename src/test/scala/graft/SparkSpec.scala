package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}

object SparkSpec {
  /** The bench's session ([[Bench.mkSession]]) on two cores. */
  lazy val session: SparkSession = Bench.mkSession(
    "spark.master" -> "local[2]",
    "spark.sql.shuffle.partitions" -> "2",
    // managed-table home for the bucketed-layout suites
    "spark.sql.warehouse.dir" ->
      s"/tmp/graft-warehouse-${java.util.UUID.randomUUID()}")
}
