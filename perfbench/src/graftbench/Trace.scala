package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one request share
  * `req`; `parent` is the id of the span that caused this one (0 = root).
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val log = new ConcurrentLinkedQueue[Span]()
  /** Request id -> id of that request's root span, for the Spark job spans. */
  private val roots = new ConcurrentHashMap[String, java.lang.Long]()

  def record(s: Span): Unit = { log.add(s); () }

  def span[A](name: String, req: String, parent: Long = 0L)(f: => A): A = {
    val id = ids.incrementAndGet()
    if (parent == 0L) roots.put(req, id)
    val t0 = System.nanoTime()
    try f finally record(Span(id, name, t0, System.nanoTime(), parent, req))
  }

  def rootOf(req: String): Long =
    Option(roots.get(req)).map(_.longValue).getOrElse(0L)

  def nextId(): Long = ids.incrementAndGet()

  def spans: Seq[Span] = log.asScala.toSeq

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(compact(render(("id" -> s.id) ~ ("name" -> s.name) ~ ("start_ns" -> s.startNs) ~
        ("end_ns" -> s.endNs) ~ ("parent" -> s.parent) ~ ("req" -> s.req))))
      w.newLine()
    } finally w.close()
  }
}

/** Spark work attributed to one request (job group) or one phase. */
final class SparkAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var jobMs = 0.0
  var taskRunMs = 0.0
  var schedDelayMs = 0.0
  var gcMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var rddBlockBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]
}

/** Per-query facts from a [[QueryExecutionListener]] callback. */
final case class QeFacts(queryId: Long, planMs: Double, execMs: Double,
    codegenStages: Int, scannedRows: Long)

private object PlanWalk extends AdaptiveSparkPlanHelper {
  def codegenStages(p: SparkPlan): Int =
    collectWithSubqueries(p) { case w: WholeStageCodegenExec => w }.size

  def scannedRows(p: SparkPlan): Long =
    collectWithSubqueries(p) {
      case s @ (_: InMemoryTableScanExec | _: LocalTableScanExec |
          _: FileSourceScanExec) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** The benchmark's own listeners: a SparkListener attributing jobs, stages
  * and tasks to the job group set around each request, and a
  * QueryExecutionListener recording planning phases, codegen stages and
  * scanned rows for each SQL execution. Registered only in traced runs.
  */
final class SparkTap(spark: SparkSession, tracer: Tracer) extends SparkListener {
  @volatile private var phase = "none"
  private val byGroup = mutable.HashMap.empty[String, SparkAgg]
  private val byPhase = mutable.HashMap.empty[String, SparkAgg]
  private val jobInfo = mutable.HashMap.empty[Int, (String, String, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> job group, and query id -> SQL execution id. */
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val queryExec = new ConcurrentHashMap[Long, java.lang.Long]()
  private val qes = new ConcurrentLinkedQueue[QeFacts]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val plan = qe.executedPlan
      qes.add(QeFacts(qe.id, planMs, durNs / 1e6,
        PlanWalk.codegenStages(plan), PlanWalk.scannedRows(plan)))
      ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = BenchAccess.drain(spark.sparkContext)

  /** Start attributing unattributed work to `p`; earlier events are
    * delivered first so none of them lands in the new phase.
    */
  def setPhase(p: String): Unit = { drain(); phase = p }

  private def aggs(group: String, ph: String): Seq[SparkAgg] =
    Seq(byPhase.getOrElseUpdate(ph, new SparkAgg)) ++
      Option(group).map(g => byGroup.getOrElseUpdate(g, new SparkAgg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobInfo(e.jobId) = (group, phase, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    aggs(group, phase).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.get(e.jobId).foreach { case (group, ph, start) =>
      val ms = (e.time - start).toDouble
      aggs(group, ph).foreach(_.jobMs += ms)
      if (group != null) {
        val now = System.nanoTime()
        tracer.record(Span(tracer.nextId(), "spark.job", now - (ms * 1e6).toLong,
          now, tracer.rootOf(group), group))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobInfo.get).foreach {
      case (group, ph, _) => aggs(group, ph).foreach(_.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (group, ph) = stageJob.get(e.stageId).flatMap(jobInfo.get)
      .map { case (g, p, _) => (g, p) }.getOrElse((null, phase))
    val m = e.taskMetrics
    val info = e.taskInfo
    aggs(group, ph).foreach { a =>
      a.tasks += 1
      a.taskMs += info.duration.toDouble
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        val fetchMs = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.resultBytes += m.resultSize
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case end: SparkListenerSQLExecutionEnd =>
      BenchAccess.queryExecution(end).foreach(qe => queryExec.put(qe.id, Long.box(end.executionId)))
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      byPhase.getOrElseUpdate(phase, new SparkAgg).rddBlockBytes += b.memSize + b.diskSize
  }

  def group(g: String): SparkAgg = synchronized(byGroup.getOrElse(g, new SparkAgg))
  def ofPhase(p: String): SparkAgg = synchronized(byPhase.getOrElse(p, new SparkAgg))

  /** Queries that ran under a job group accepted by `keep`. */
  def queryFacts(keep: String => Boolean): Seq[(String, QeFacts)] =
    qes.asScala.toSeq.flatMap { q =>
      Option(queryExec.get(q.queryId)).flatMap(x => Option(execGroup.get(x.longValue)))
        .filter(keep).map(_ -> q)
    }
}
