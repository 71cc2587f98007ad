package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The session rule as a pure function of the environment: no session is
  * built and no Spark job runs here. */
class HarnessSpec extends AnyFunSuite {
  private val Partitions = "spark.sql.shuffle.partitions"
  private val Floor = "spark.sql.adaptive.coalescePartitions.minPartitionNum"

  test("SPARK_GRAFT_CPUS sets the master, the shuffle partitions and the coalescing floor") {
    val c = Harness.conf(Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(c("spark.master") == "local[8]")
    assert(c(Partitions) == "8")
    assert(c(Floor) == "8")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.ui.enabled") == "false")
  }

  test("SPARK_GRAFT_SHUFFLE_PARTITIONS sets the partitions and the floor, not the master") {
    val c = Harness.conf(Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256"))
    assert(c("spark.master") == "local[8]")
    assert(c(Partitions) == "256")
    assert(c(Floor) == "256")
  }

  test("Bench and Verify get the same conf: the variables only one of them reads change nothing") {
    val base = Map("SPARK_GRAFT_CPUS" -> "8")
    // SF_DIR, ONLY and BENCH_OUT are Bench's; Verify takes its scale and
    // output directory as arguments
    val bench = base ++ Map("SPARK_GRAFT_SF_DIR" -> "/data/sf0.1",
      "SPARK_GRAFT_ONLY" -> "q80_curation_funnel",
      "SPARK_GRAFT_BENCH_OUT" -> "/tmp/bench.json")
    assert(Harness.conf(bench) == Harness.conf(base))
  }

  test("with no variable set, cpus is the core count") {
    val n = Runtime.getRuntime.availableProcessors
    val c = Harness.conf(Map.empty)
    assert(c("spark.master") == s"local[$n]")
    assert(c(Partitions) == n.toString)
    assert(c(Floor) == n.toString)
  }

  test("selected sorts by name and keeps only the listed entries") {
    val entries = Map("q2" -> 2, "q10" -> 10, "q1" -> 1)
    assert(Harness.selected(entries, None).map(_._1) == Seq("q1", "q10", "q2"))
    assert(Harness.selected(entries, Some("q2, q1")).map(_._1) == Seq("q1", "q2"))
  }
}
