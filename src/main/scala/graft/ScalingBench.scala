package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/**
 * One parallelism level of the two-cluster-size scaling evidence
 * (BASELINE.json north_rule): the IDENTICAL conflation job on IDENTICAL
 * deterministic input, measured in a fresh JVM per level (same-JVM
 * back-to-back sessions contaminate each other through heap state).
 * tools/scaling_bench.sh runs the levels N and 4N through
 * tools/spark_submit_scaling.sh and computes efficiency = (T_N / T_4N) / 4.
 *
 * Usage: tools/spark_submit_scaling.sh <cpus> [nPages] [nRoads] [spark-submit options]
 *
 * The session is worked out from how the level was launched (see [[plan]]);
 * shuffle files go where Spark's own SPARK_LOCAL_DIRS points.
 */
object ScalingBench {

  /** A level's session: its master, whether the warm-up runs inside the
    * measured session, and the SQL conf every level pins. */
  final case class Plan(master: String, warmInSession: Boolean, conf: Map[String, String])

  /**
   * The submitted `spark.master`, else `local[cpus]`. AQE is off (no
   * driver-serial replanning inside the measurement) and `cpus` shuffle
   * partitions keep the plan the same at every master.
   *
   * The warm-up (JIT + codegen caches, at small scale) runs in its own
   * session under a `local[…]` master: that session shares the measured
   * session's JVM, so the measured run executes JIT-warm. Under any other
   * master (`local-cluster[W,C,MB]`: W separate executor JVMs) a session's
   * executors die with it, so a separate warm-up session warms nothing and
   * the measured run would pay the interpreter/C2 ramp on every fresh
   * executor (~2.5× at 6.4M observed); there the warm-up runs through the
   * measured session's own executors (SCALING_r5_cluster.json).
   */
  def plan(submittedMaster: Option[String], cpus: Int): Plan = {
    val master = submittedMaster.getOrElse(s"local[$cpus]")
    Plan(master, warmInSession = !master.matches("""local(\[.*\])?"""),
      Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false"))
  }

  /** Conflation throughput in one session; with `warmFirst` the small
    * warm-up runs in that session first ([[Bench.conflationThroughput]]
    * clears SQL caches before each measured call). */
  def run(p: Plan, nPages: Long, nRoads: Int, warmFirst: Boolean): (Long, Long, Double) = {
    val spark = SparkSession.builder().master(p.master).config(p.conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("SPARK_GRAFT_STAGE_REPORT")) addStageReport(spark)
    try {
      if (warmFirst) Bench.conflationThroughput(spark, 2000, 200)
      Bench.conflationThroughput(spark, nPages, nRoads)
    } finally spark.stop()
  }

  /** Opt-in per-stage diagnostic (SPARK_GRAFT_STAGE_REPORT=1): stage wall
    * time vs task-time median/max exposes where a parallelism level loses
    * efficiency — taskMax >> taskMed is a straggler (partition skew), stage
    * wall >> taskMax is scheduler/serial gap, and total-stage-wall far under
    * job wall is driver-side serial work between stages. Diagnostic only;
    * certified brackets run without it. */
  def addStageReport(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val tasks =
        scala.collection.concurrent.TrieMap.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val buf = tasks.getOrElseUpdate(t.stageId, scala.collection.mutable.ArrayBuffer.empty[Long])
        buf.synchronized { buf += t.taskInfo.duration }
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val ds = tasks.remove(si.stageId).map(b => b.synchronized(b.toArray.sorted)).getOrElse(Array.empty[Long])
        val wall = (for { sub <- si.submissionTime; c <- si.completionTime } yield c - sub).getOrElse(0L)
        val med = if (ds.nonEmpty) ds(ds.length / 2) else 0L
        val mx = if (ds.nonEmpty) ds.last else 0L
        val sum = ds.sum
        val tm = si.taskMetrics
        val shRead = tm.shuffleReadMetrics.totalBytesRead / 1e6
        val shWrite = tm.shuffleWriteMetrics.bytesWritten / 1e6
        val spill = (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1e6
        val gc = tm.jvmGCTime / 1000.0
        System.err.println(
          f"[stage] id=${si.stageId}%4d tasks=${ds.length}%5d wall=${wall / 1000.0}%8.2fs " +
            f"taskMed=${med / 1000.0}%7.2fs taskMax=${mx / 1000.0}%7.2fs cpuSum=${sum / 1000.0}%8.2fs " +
            f"shR=${shRead}%8.1fMB shW=${shWrite}%8.1fMB spill=${spill}%8.1fMB gc=${gc}%6.2fs " +
            f"name=${si.name.takeWhile(_ != '\n')}")
      }
    })

  /** Aggregate /proc/stat cpu jiffies (user nice system idle iowait irq
    * softirq steal ...). Guest-visible host contention — steal — is the one
    * signal that distinguishes "this box was quiet" from "the hypervisor
    * taxed the run": the r4 6.4M re-certification measured local[2] 15%
    * faster than r3's certified window with local[8] reproduced to 1.6%,
    * an asymmetry only attributable to ambient host state during the
    * 39-minute N leg. Recording the tax makes every future level
    * self-documenting. */
  private def cpuStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    // the JSON line below is f-interpolated; a comma-decimal default locale
    // would make it unparseable by the harness scripts
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = args(0).toInt
    val nPages = if (args.length > 1) args(1).toLong else 400000L
    val nRoads = if (args.length > 2) args(2).toInt else 16000
    val p = plan(new SparkConf().getOption("spark.master"), cpus)
    if (!p.warmInSession) run(p, 2000, 200, warmFirst = false)
    val s0 = cpuStat()
    val (segs, tiles, sec) = run(p, nPages, nRoads, warmFirst = p.warmInSession)
    val s1 = cpuStat()
    val d = s1.zip(s0).map { case (a, b) => (a - b).toDouble }
    val total = math.max(d.sum, 1.0)
    val stealPct = if (d.length > 7) d(7) / total * 100 else 0.0
    val sysPct = if (d.length > 2) d(2) / total * 100 else 0.0
    println(f"""{"cpus":$cpus,"n_pages":$nPages,"n_roads":$nRoads,""" +
      f""""segments":$segs,"tiles":$tiles,"sec":$sec%.2f,""" +
      f""""rows_per_sec":${segs / sec}%.1f,"tiles_per_sec":${tiles / sec}%.1f,""" +
      f""""steal_pct":$stealPct%.1f,"sys_pct":$sysPct%.1f}""")
  }
}
