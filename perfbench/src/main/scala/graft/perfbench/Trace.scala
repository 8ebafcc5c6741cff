package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A timed interval in the span tree: workload → unit → query (build,
  * exec) or streaming micro-batch → Spark job → stage. `trace` is shared
  * by every span of one query or streaming query. Times are epoch ms.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String, layer: String,
    start: Long, end: Long)

/** Spark counters summed over one span or window. */
final case class SparkTotals(jobs: Int, stages: Int, tasks: Long, taskRunS: Double,
    taskCpuS: Double, deserS: Double, gcS: Double, schedulerDelayS: Double,
    shuffleWriteMb: Double, spillMb: Double, stageBusyS: Double, wallS: Double, cores: Int) {
  def driverGapS: Double = math.max(0.0, wallS - stageBusyS)
  def coreUtil: Double = if (wallS > 0) taskRunS / (wallS * cores) else 0.0
  def metrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble, "spark.task_run_s" -> taskRunS,
    "spark.task_cpu_s" -> taskCpuS, "spark.deser_s" -> deserS, "spark.gc_s" -> gcS,
    "spark.scheduler_delay_s" -> schedulerDelayS, "spark.shuffle_write_mb" -> shuffleWriteMb,
    "spark.spill_mb" -> spillMb, "spark.driver_gap_s" -> driverGapS,
    "spark.core_util" -> coreUtil)
}

/** Keeps spans in memory and, as a SparkListener registered from the
  * benchmark, records every job, stage and task. Jobs started from the
  * driver thread belong to the innermost span opened with [[within]];
  * jobs of a streaming micro-batch carry their query id and batch id as
  * job properties and are attached to that batch's span afterwards.
  */
final class Tracer(cores: Int) extends SparkListener {

  private final class StageRec(val stageId: Int, val jobId: Int) {
    var submit = 0L
    var complete = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var deserMs = 0L
    var gcMs = 0L
    var delayMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private final class JobRec(val jobId: Int, val start: Long, val parent: Long,
      val streamQuery: Option[String], val batchId: Option[Long]) {
    @volatile var end = 0L
  }

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var current = 0L
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  @volatile private var lastEvent = System.nanoTime()

  def newId(): Long = ids.incrementAndGet()

  def record(span: Span): Unit = spans.add(span)

  /** Run `body` as a child span of `parent`; Spark jobs the driver thread
    * starts meanwhile belong to it.
    */
  def within[T](parent: Long, trace: String, name: String, layer: String)(body: Long => T): T = {
    val id = newId()
    val prev = current
    current = id
    val start = System.currentTimeMillis()
    try body(id)
    finally {
      current = prev
      record(Span(id, parent, trace, name, layer, start, System.currentTimeMillis()))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    val props = Option(e.properties)
    val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, if (query.isDefined) 0L else current, query, batch))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent = System.nanoTime()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  private def stage(info: StageInfo): StageRec =
    stages.computeIfAbsent((info.stageId, info.attemptNumber()),
      _ => new StageRec(info.stageId, stageJob.getOrDefault(info.stageId, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEvent = System.nanoTime()
    stage(e.stageInfo).submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    val s = stage(e.stageInfo)
    s.submit = e.stageInfo.submissionTime.getOrElse(s.submit)
    s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new StageRec(e.stageId, stageJob.getOrDefault(e.stageId, -1)))
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Wait until the listener bus has delivered the events of finished
    * work: every recorded job has ended and nothing arrived for 300 ms.
    */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = System.nanoTime() - lastEvent > 300L * 1000000L
    while (System.nanoTime() < deadline && !(quiet && jobs.values.asScala.forall(_.end > 0)))
      Thread.sleep(50)
  }

  /** Spark counters of the stages that ran inside [from, to) (epoch ms). */
  def totals(from: Long, to: Long, jobFilter: Int => Boolean = _ => true): SparkTotals = {
    val ss = stages.values.asScala.toSeq.filter(s => s.submit >= from && s.submit < to && jobFilter(s.jobId))
    val js = jobs.values.asScala.count(j => j.start >= from && j.start < to && jobFilter(j.jobId))
    val busy = Stats.unionLength(Stats.clip(ss.map(s => (s.submit, s.complete)), from, to))
    SparkTotals(js, ss.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.deserMs).sum / 1e3, ss.map(_.gcMs).sum / 1e3, ss.map(_.delayMs).sum / 1e3,
      ss.map(_.shuffleWriteBytes).sum / 1048576.0, ss.map(_.spillBytes).sum / 1048576.0,
      busy / 1e3, (to - from) / 1e3, cores)
  }

  /** Jobs started by the driver-thread span `spanId`. */
  def jobsOf(spanId: Long): Set[Int] =
    jobs.values.asScala.filter(_.parent == spanId).map(_.jobId).toSet

  /** Spans for every job and stage, parented on the driver span that
    * started the job, or on the streaming batch span found by
    * `batchSpan(queryId, batchId)`.
    */
  def sparkSpans(batchSpan: (String, Long) => Option[Long]): Seq[Span] = {
    val jobSpan = mutable.Map[Int, Long]()
    val out = mutable.ArrayBuffer[Span]()
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val parent = (for (q <- j.streamQuery; b <- j.batchId; s <- batchSpan(q, b)) yield s)
        .getOrElse(j.parent)
      val id = newId()
      jobSpan(j.jobId) = id
      out += Span(id, parent, j.streamQuery.getOrElse(""), s"job ${j.jobId}", "job", j.start,
        math.max(j.start, j.end))
    }
    stages.values.asScala.toSeq.sortBy(s => (s.stageId, s.submit)).foreach { s =>
      jobSpan.get(s.jobId).foreach { parent =>
        out += Span(newId(), parent, "", s"stage ${s.stageId}", "stage", s.submit,
          math.max(s.submit, s.complete))
      }
    }
    out.toSeq
  }

  def driverSpans: Seq[Span] = spans.asScala.toSeq
}

object Tracer {

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer, in seconds.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start) - Stats.unionLength(Stats.clip(kids, s.start, s.end))
      }.sum / 1e3
    }
  }
}
