package graft

import org.scalatest.funsuite.AnyFunSuite

/** A scaling level's session is a pure function of the submitted master and
  * the level's cpus ([[ScalingBench.plan]]). */
class ScalingBenchSpec extends AnyFunSuite {

  private def pinned(p: ScalingBench.Plan, cpus: Int): Unit = {
    assert(p.conf("spark.sql.adaptive.enabled") == "false")
    assert(p.conf("spark.sql.shuffle.partitions") == cpus.toString)
  }

  test("no submitted master: local[cpus], warm-up in its own session") {
    val p = ScalingBench.plan(None, 4)
    assert(p.master == "local[4]" && !p.warmInSession)
    pinned(p, 4)
  }

  test("a submitted local[8] master is kept, warm-up in its own session") {
    val p = ScalingBench.plan(Some("local[8]"), 8)
    assert(p.master == "local[8]" && !p.warmInSession)
    pinned(p, 8)
  }

  test("a local-cluster master is kept, warm-up inside the measured session") {
    val p = ScalingBench.plan(Some("local-cluster[4,2,1024]"), 8)
    assert(p.master == "local-cluster[4,2,1024]" && p.warmInSession)
    pinned(p, 8)
  }
}
