package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Wall-clock spans around the benchmark's calls into the engine, plus the
  * Spark stage metrics that ran inside each span.
  *
  * Every call is timed whether or not tracing is on: end-to-end metrics come
  * from `timed`'s return value. With tracing off nothing else happens — no
  * span is kept, no job-group tag is set and no listener is registered — so
  * an untraced run pays only two `nanoTime` reads per call.
  *
  * With tracing on, a span records (id, name, parent, start, end, run id) in
  * memory, and the span id is set as the Spark job group before the body
  * runs. [[StageLog]] keeps one record per completed stage, tagged with the
  * job group it ran under; [[Tracer.sparkBySpan]] sums them per span after
  * the run. A stage whose tag names no span open when the stage started —
  * jobs on engine-owned background threads keep the tag their thread was
  * created under — is attributed to the innermost span open at its
  * submission time instead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private var nextId = 0
  private var stack: List[Span] = Nil
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  val stages: StageLog = if (enabled) {
    val l = new StageLog
    sc.addSparkListener(l)
    l
  } else null

  /** Run `body` under span `name`; returns its result and wall seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    nextId += 1
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
      t0 - origin, -1L)
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endNs = System.nanoTime() - origin
      done += s
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name,
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def span[A](name: String)(body: => A): A = timed(name)(body)._1

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Wall-clock ms of a span boundary, for matching Spark event times. */
  def epochMs(ns: Long): Double = originMs + ns / 1e6

  /** Block until the listener bus has delivered every event posted so far:
    * runs one tagged marker job and waits for its completion event. */
  def drain(): Unit = if (enabled) {
    val tag = s"drain-${System.nanoTime()}"
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!stages.sawGroup(tag) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Spark totals per span id, over the stages attributed to that span. */
  def sparkBySpan(): Map[Int, SparkTotals] = {
    val all = spans
    val byId = all.map(s => s.id -> s).toMap
    def innermostAt(ms: Double): Int =
      all.filter(s => epochMs(s.startNs) <= ms && ms <= epochMs(s.endNs))
        .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(0)
    def openAt(id: Int, ms: Double): Boolean = byId.get(id).exists { s =>
      epochMs(s.startNs) <= ms + 1 && ms <= epochMs(s.endNs) + 1 }
    stages.records.groupBy { r =>
      val tagged = r.group.toIntOption.getOrElse(0)
      if (tagged > 0 && openAt(tagged, r.submitMs)) tagged
      else innermostAt(r.submitMs)
    }.map { case (id, rs) => id -> SparkTotals(rs) }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long)

  /** One completed stage: its job group, wall interval (epoch ms) and
    * the summed metrics of its tasks. */
  final case class StageRec(group: String, jobId: Int, submitMs: Double,
                            endMs: Double, tasks: Int, runMs: Long,
                            gcMs: Long, fetchWaitMs: Long,
                            shuffleWriteB: Long, shuffleReadB: Long,
                            spillB: Long)

  final case class SparkTotals(jobs: Int, tasks: Long, busyS: Double,
                               gcS: Double, fetchWaitS: Double,
                               shuffleWriteMb: Double, shuffleReadMb: Double,
                               spillMb: Double,
                               stageIntervalsMs: Seq[(Double, Double)])
  object SparkTotals {
    def apply(rs: Seq[StageRec]): SparkTotals = SparkTotals(
      rs.map(_.jobId).distinct.size, rs.map(_.tasks.toLong).sum,
      rs.map(_.runMs).sum / 1e3, rs.map(_.gcMs).sum / 1e3,
      rs.map(_.fetchWaitMs).sum / 1e3, rs.map(_.shuffleWriteB).sum / 1e6,
      rs.map(_.shuffleReadB).sum / 1e6, rs.map(_.spillB).sum / 1e6,
      rs.map(r => (r.submitMs, r.endMs)))
  }

  /** The benchmark's one listener: per-stage task metrics keyed by the job
    * group of the job that submitted the stage. */
  final class StageLog extends SparkListener {
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]
    private val groupsSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val recs = new ConcurrentLinkedQueue[StageRec]()
    private val taskSums =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

    def records: Seq[StageRec] = recs.asScala.toSeq
    def sawGroup(g: String): Boolean = groupsSeen.contains(g)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(id => stageGroup.putIfAbsent(id, (g, e.jobId)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      stageGroup.values().asScala.find(_._2 == e.jobId)
        .foreach(p => groupsSeen.add(p._1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = taskSums.computeIfAbsent(e.stageId, _ => new Array[Long](7))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.jvmGCTime
        a(3) += m.shuffleReadMetrics.fetchWaitTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val (g, job) = Option(stageGroup.get(i.stageId)).getOrElse(("", -1))
      val a = Option(taskSums.remove(i.stageId)).getOrElse(new Array[Long](7))
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      recs.add(StageRec(g, job, i.submissionTime.getOrElse(end).toDouble,
        end.toDouble, a(0).toInt, a(1), a(2), a(3), a(4), a(5), a(6)))
    }
  }
}
