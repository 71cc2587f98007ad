package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — scalatest
  * runs suites sequentially in-process under `Test / fork`). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", graft.tools.Harness.runWarehouse())
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val sf0001 = "/root/testdata/sf0.001"
}
