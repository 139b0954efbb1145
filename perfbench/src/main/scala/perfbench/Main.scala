package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

object Files {
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, text.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }
}

/** CPU tick counters from the first line of /proc/stat. */
final case class CpuTicks(total: Long, steal: Long)

object CpuTicks {
  def read(): CpuTicks = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal (guest time is inside user)
      CpuTicks(f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => CpuTicks(0L, 0L) }
    finally src.close()
  }
}

/** JSON text through the Jackson Scala module Spark ships: maps keep
  * insertion order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it: the
    * eleventh-largest sample, or None with fewer than eleven. */
  def tail(xs: Seq[Double]): Option[Double] =
    if (xs.size < 11) None else Some(xs.sorted.apply(xs.size - 11))
}

/**
 * Benchmark entry point: one workload, one JVM.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR --pins DIR --data DIR
 *   perfbench.Main --pin conflate|catalog --work DIR --pins DIR --data DIR [--seeds A-B]
 *
 * The first form sets up, runs untimed warm-up, then timed passes until S
 * seconds have passed (at least the workload's minimum), and writes `report.json` (all the
 * end-to-end figures) and `result.json` (the one-line result)
 * into the out directory, plus `spans.json` when traced. The second form
 * writes the pinned digests the output gate compares against. `--data` is
 * the catalog's read-only table directory.
 */
object Main {
  /** Benchmark workloads and the phases each pass runs, in order. */
  val phasesOf: Map[String, Seq[String]] = Map(
    "conflate_dedup" -> Seq("conflate", "dedup_corpus"),
    "catalog" -> Seq("catalog"))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val pinsDir = opts("pins")
    val data = opts("data")
    val spark = session(work)
    val code =
      try opts.get("pin") match {
        case Some(w) => pin(spark, w, data, pinsDir, opts.getOrElse("seeds", "0-31")); 0
        case None => run(spark, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", work, opts("out"), pinsDir, data)
      } finally spark.stop()
    sys.exit(code)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.broadcastTimeout", "1800")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // benign per-call WARNs (streaming-sink probes on glob reads, released
    // checkpoint generations, AQE-off-for-streaming) would flood stderr
    Seq("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", "org.apache.spark.rdd",
      "org.apache.spark.sql.execution.streaming.ResolveWriteToStream")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    spark
  }

  def workload(spark: SparkSession, name: String, seed: Long, trace: Boolean, work: String,
      pinsDir: String, data: String): Workload = {
    def pins(w: String) = Gate.loadPins(new java.io.File(s"$pinsDir/$w.tsv"))
    name match {
      case "conflate" => new ConflateWorkload(spark, seed, pins("conflate"))
      case "dedup_corpus" => new DedupWorkload(spark, seed, work, warm = trace)
      case "catalog" => new CatalogWorkload(spark, seed, data, pins("catalog"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** MB of RDD and cache blocks held, skipping the given RDD ids. */
  def storedMb(spark: SparkSession, skip: collection.Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => skip.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** One phase (a workload's part of a pass) as measured from outside. */
  final case class PhaseRec(pass: Int, phase: String, traced: Boolean, out: PassOut,
      startMs: Long, endMs: Long, gcS: Double, ticks: (CpuTicks, CpuTicks))

  private def stealPct(ps: Seq[PhaseRec]): Double = {
    val tot = ps.map(p => p.ticks._2.total - p.ticks._1.total).sum
    val st = ps.map(p => p.ticks._2.steal - p.ticks._1.steal).sum
    if (tot > 0) 100.0 * st / tot else 0.0
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, outDir: String, pinsDir: String, data: String): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sc = spark.sparkContext
    val listener = if (trace) Some(StageListener.install(sc)) else None
    val tracer = new Tracer(sc)
    val ws = phasesOf(name).map(workload(spark, _, seed, trace, work, pinsDir, data))
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sessionS = sinceStart
    ws.foreach(_.prepare())
    val prepareS = sinceStart - sessionS
    val warmFailures = ws.flatMap(_.warmup())
    val setupS = sinceStart

    // timed passes: a closed loop, one pass at a time; traced runs alternate
    // untraced and traced passes so both are measured under the same state
    val phases = mutable.ArrayBuffer.empty[PhaseRec]
    val retained = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    val minPasses = ws.map(_.minPasses).max
    def need: Boolean = (System.nanoTime() - t0) / 1e9 < seconds ||
      i < minPasses || (trace && i < 2)
    while (need) {
      val traced = trace && i % 2 == 1
      ws.foreach { w =>
        val before = CpuTicks.read()
        val gc0 = gcMs()
        val startMs = System.currentTimeMillis()
        val out = w.pass(new Pass(i, if (traced) Some(tracer) else None))
        val endMs = System.currentTimeMillis()
        phases += PhaseRec(i, w.name, traced, out, startMs, endMs, (gcMs() - gc0) / 1000.0,
          (before, CpuTicks.read()))
      }
      retained += storedMb(spark, ws.flatMap(_.inputIds).toSet)
      ws.foreach(_.afterPass())
      i += 1
    }

    val timed = phases.filterNot(_.traced).toSeq
    val attempted = phases.map(_.out.ops).sum + 1
    val failures = warmFailures.map("warm-up: " + _) ++ phases.flatMap(_.out.failures)
    val failed = phases.map(_.out.failures.size).sum + (if (warmFailures.nonEmpty) 1 else 0)
    def phaseS(w: String) = Stats.median(timed.filter(_.phase == w).map(_.out.wallS))
    val passS = Stats.median(timed.groupBy(_.pass).values.map(_.map(_.out.wallS).sum).toSeq)
    val steal = stealPct(phases.toSeq)

    val host = mutable.LinkedHashMap[String, Any](
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "steal_pct" -> steal)

    // every end-to-end figure of the workload, with its unit
    val report = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"), "pass_s" -> (passS, "s"))
    def items(w: String, k: String) =
      timed.find(_.phase == w).flatMap(_.out.items.get(k)).getOrElse(0L).toDouble
    ws.map(_.name).foreach {
      case w @ "conflate" =>
        report("segment_rows_per_s") = (items(w, "segments") / phaseS(w), "rows/s")
        report("tiles_per_s") = (items(w, "tiles") / phaseS(w), "tiles/s")
      case w @ "dedup_corpus" =>
        report("docs_per_s") = (items(w, "docs") / phaseS(w), "docs/s")
      case w =>
        val leafS = timed.filter(_.phase == w).flatMap(_.out.opSeconds)
        report("leaf_s.p50") = (Stats.median(leafS), "s")
        Stats.tail(leafS).foreach(t => report("leaf_s.tail") = (t, "s"))
    }
    report("failed_frac") = (failed.toDouble / attempted, "ratio")
    report("retained_storage_mb") = (Stats.median(retained.toSeq), "MB")

    val metrics: collection.Map[String, (Double, String)] =
      if (!trace) mutable.LinkedHashMap("pass_s" -> report("pass_s"), "setup_s" -> report("setup_s"))
      else layerMetrics(phases.toSeq, tracer, listener.get, sc)

    def withUnits(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    Files.write(s"$outDir/report.json", Json(mutable.LinkedHashMap(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "host" -> host,
      "setup_parts_s" -> mutable.LinkedHashMap("session" -> sessionS, "prepare" -> prepareS,
        "warmup" -> (setupS - sessionS - prepareS)),
      "metrics" -> withUnits(report),
      "phases" -> phases.map(p => mutable.LinkedHashMap("pass" -> p.pass, "phase" -> p.phase,
        "traced" -> p.traced, "wall_s" -> p.out.wallS, "gc_s" -> p.gcS,
        "ops_s" -> p.out.opNames.zip(p.out.opSeconds).toMap)),
      "retained_mb" -> retained,
      "leaf_samples" -> timed.map(_.out.opSeconds.size).sum,
      "failures" -> failures.take(20))) + "\n")
    if (trace) Files.write(s"$outDir/spans.json", Json(tracer.all.map(s => mutable.LinkedHashMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "counts" -> s.counts))) + "\n")
    Files.write(s"$outDir/result.json", Json(mutable.LinkedHashMap(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> withUnits(metrics))) + "\n")
    if (failures.isEmpty) 0 else 1
  }

  /** The 123 per-layer figures: medians over the traced passes. Layers and
    * workloads a run does not execute read 0. */
  def layerMetrics(phases: Seq[PhaseRec], tracer: Tracer, listener: StageListener,
      sc: org.apache.spark.SparkContext): collection.Map[String, (Double, String)] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    val stages = listener.stages
    val traced = phases.filter(_.traced).map(_.pass).distinct
    val spans = tracer.all
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Per traced pass, the span stats of `layer` summed over its calls. */
    def perPass(layer: String)(f: Seq[(Span, SpanStats)] => Double): Double =
      Stats.median(traced.map { p =>
        f(spans.filter(s => s.name == layer && s.pass == p).map(s => s -> SpanStats.of(s, tracer, stages)))
      })
    def emit(layer: String, fields: Seq[String]): Unit = fields.foreach { f =>
      val (v, unit) = f match {
        case "wall_s" => (perPass(layer)(_.map(_._2.wallS).sum), "s")
        case "driver_s" => (perPass(layer)(_.map(_._2.driverS).sum), "s")
        case "task_cpu_s" => (perPass(layer)(_.map(_._2.taskCpuS).sum), "s")
        case "shuffle_mb" => (perPass(layer)(_.map(_._2.shuffleMb).sum), "MB")
        case "stages" => (perPass(layer)(_.map(_._2.stages.toDouble).sum), "count")
        case "skew" => (perPass(layer)(xs => if (xs.isEmpty) 0.0 else xs.map(_._2.skew).max), "ratio")
        case "plan_s" => (perPass(layer)(_.map(_._1.counts.getOrElse("plan_us", 0L) / 1e6).sum), "s")
      }
      out(s"$layer.$f") = (v, unit)
    }
    ConflateWorkload.Layers.foreach(l =>
      emit(s"conflate.$l", Seq("wall_s", "driver_s", "task_cpu_s", "shuffle_mb", "skew")))
    def rows(name: String, pass: Int) =
      spans.filter(s => s.name == name && s.pass == pass).flatMap(_.counts.get("rows")).sum.toDouble
    out("conflate.candidates.kept_frac") = (Stats.median(traced.map { p =>
      val cands = rows("conflate.candidates", p)
      if (cands > 0) rows("conflate.score", p) / cands else 0.0
    }), "ratio")
    DedupWorkload.Layers.foreach(l =>
      emit(s"dedup.$l", Seq("wall_s", "driver_s", "stages", "task_cpu_s", "shuffle_mb")))
    Workload.families.foreach { case (f, _) =>
      emit(s"catalog.$f", Seq("wall_s", "driver_s", "plan_s", "stages", "task_cpu_s"))
    }
    Seq("conflate", "dedup_corpus", "catalog").foreach { w =>
      val mine = phases.filter(_.phase == w)
      val (tr, untr) = mine.partition(_.traced)
      def spillMb(p: PhaseRec) = stages.filter(s => s.submitMs >= p.startMs && s.submitMs <= p.endMs)
        .map(_.spillBytes).sum / (1024.0 * 1024.0)
      out(s"$w.gc_s") = (Stats.median(untr.map(_.gcS)), "s")
      out(s"$w.spill_mb") = (Stats.median(mine.map(spillMb)), "MB")
      out(s"$w.trace_overhead") = (if (mine.isEmpty) 0.0
        else Stats.median(tr.map(_.out.wallS)) / Stats.median(untr.map(_.out.wallS)) - 1, "ratio")
      out(s"host.$w.steal_pct") = (stealPct(mine), "%")
    }
    out
  }

  /** Writes `<pins>/<workload>.tsv` from the current code's outputs. */
  def pin(spark: SparkSession, name: String, data: String, pinsDir: String, seeds: String): Unit = {
    val lines = name match {
      case "conflate" =>
        val Array(a, b) = seeds.split('-').map(_.toLong)
        val w = new ConflateWorkload(spark, 0L, Map.empty)
        def pinned(key: String, r: ConflateWorkload.Result) = {
          spark.catalog.clearCache()
          System.err.println(s"[perfbench] pinned conflate $key: ${r.segments} segments, ${r.tiles} tiles")
          Seq(s"$key.segments\t${r.segDigest.render}", s"$key.tiles\t${r.tileDigest.render}")
        }
        (a to b).flatMap(s => pinned(s"seed$s", w.run(s, new Pass(-1, None))))
      case "catalog" =>
        val w = new CatalogWorkload(spark, 0L, data, Map.empty)
        w.prepare()
        w.pinAll().map { case (l, d) => s"$l\t${d.render}" }
    }
    Files.write(s"$pinsDir/$name.tsv",
      s"# $name output digests (rows:hash), written by `python3 perfbench/run.py --pin $name`\n" +
        lines.mkString("", "\n", "\n"))
  }
}
