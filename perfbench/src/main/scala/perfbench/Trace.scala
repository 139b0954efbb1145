package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage figures the listener keeps for span attribution. */
final case class StageRec(
    tags: Set[String],
    submitMs: Long,
    endMs: Long,
    cpuNs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskMs: Seq[Long])

/**
 * Listens to the scheduler and files every completed stage under the job
 * tags of the job that ran it. Registered once per SparkContext: [[install]]
 * checks for an existing instance before adding one.
 */
final class StageListener extends SparkListener {
  // the job property SparkContext.addJobTag writes (comma-separated tags)
  private val JobTagsKey = "spark.job.tags"
  private val stageTags = mutable.Map.empty[Int, Set[String]]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey)))
      .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    e.stageIds.foreach(id => stageTags(id) = stageTags.getOrElse(id, Set.empty) ++ tags)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val key = (si.stageId, si.attemptNumber())
    done += StageRec(
      stageTags.getOrElse(si.stageId, Set.empty),
      si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      taskMs.remove(key).map(_.toSeq).getOrElse(Nil))
  }

  def stages: Seq[StageRec] = synchronized(done.toSeq)
}

object StageListener {
  /** The context's listener, added on first use (never twice). */
  def install(sc: SparkContext): StageListener = synchronized {
    registered.get(sc) match {
      case Some(l) => l
      case None =>
        val l = new StageListener
        sc.addSparkListener(l)
        registered(sc) = l
        l
    }
  }
  private val registered = mutable.WeakHashMap.empty[SparkContext, StageListener]
}

/** One timed call into a layer. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startMs: Long, endMs: Long, wallS: Double, counts: Map[String, Long])

/**
 * In-memory span recorder. A span wraps one call into a layer from outside
 * and tags every Spark job the call submits with the span's id, so stages
 * attribute to the innermost and every enclosing span alike.
 */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val openCounts = mutable.Map.empty[Int, Map[String, Long]]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def tag(id: Int): String = s"pb-span-$id"

  def span[T](name: String, pass: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.addJobTag(tag(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.removeJobTag(tag(id))
      stack = stack.tail
      spans += Span(id, name, parent, pass, startMs, System.currentTimeMillis(), wall,
        openCounts.remove(id).getOrElse(Map.empty))
    }
  }

  /** Attach a count measured at the boundary of the innermost open span. */
  def count(key: String, n: Long): Unit =
    stack.headOption.foreach(id => openCounts(id) = openCounts.getOrElse(id, Map.empty) + (key -> n))

  def all: Seq[Span] = spans.toSeq
}

/** Per-span figures derived from the listener's stages. */
final case class SpanStats(wallS: Double, driverS: Double, stages: Int,
    taskCpuS: Double, shuffleMb: Double, skew: Double)

object SpanStats {
  private val Mb = 1024.0 * 1024.0

  def of(span: Span, tracer: Tracer, stages: Seq[StageRec]): SpanStats = {
    val mine = stages.filter(_.tags.contains(tracer.tag(span.id)))
    // wall time not covered by any running stage of this span
    val covered = union(mine.map(s => (math.max(s.submitMs, span.startMs),
      math.min(s.endMs, span.endMs))).filter { case (a, b) => b > a })
    val driver = math.max(0.0, span.wallS - covered / 1000.0)
    val skew = if (mine.isEmpty) 0.0 else {
      val longest = mine.maxBy(s => s.endMs - s.submitMs)
      val ts = longest.taskMs.sorted
      if (ts.isEmpty) 0.0 else {
        val med = ts(ts.length / 2).toDouble
        if (med <= 0) 0.0 else ts.last / med
      }
    }
    SpanStats(span.wallS, driver, mine.size, mine.map(_.cpuNs).sum / 1e9,
      mine.map(_.shuffleWriteBytes).sum / Mb, skew)
  }

  /** Total length of a union of [a, b) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0L, curB - curA)
  }
}
