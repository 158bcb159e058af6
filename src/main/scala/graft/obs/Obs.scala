package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one profiling seam. Engine code names its phases with
  * [[span]]; while no recorder is installed a span is one volatile read
  * around its body. [[record]] installs a recorder for the length of one
  * call — only code does that (the `Profile` tool, tests), there is no
  * flag — and returns what ran as a [[Report]]: nested spans with wall time
  * and the Spark work under each, the planning phase and graft rule times
  * of every query, and the progress of every streaming micro-batch.
  *
  * A job belongs to the span its thread had open, carried by the
  * [[SpanProp]] local property. A job without it (an AQE stage on a pool
  * thread) falls back to the span of its root SQL execution, learnt from
  * any job of that execution that did carry it.
  */
object Obs {
  val SpanProp = "graft.obs.span"

  @volatile private var active: Recorder = null
  private val ids = new AtomicLong()

  def span[T](name: String)(body: => T): T = {
    val r = active
    if (r == null) body else r.span(name)(body)
  }

  /** Run `body` as the root span `name` under a fresh recorder on `spark`'s
    * context; spans opened meanwhile on threads outside it hang off the
    * root. One recorder at a time.
    */
  def record[T](spark: SparkSession, name: String)(body: => T): (T, Report) = {
    val r = new Recorder(spark)
    r.install()
    try {
      val v = r.span(name) {
        synchronized {
          require(active == null, "an Obs recorder is already installed")
          active = r
        }
        body
      }
      active = null
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      (v, r.report())
    } finally {
      synchronized { if (active eq r) active = null }
      r.uninstall()
    }
  }

  /** Spark work summed over jobs. A write job is one whose tasks wrote
    * output bytes.
    */
  final case class Work(jobs: Int = 0, writeJobs: Int = 0, stages: Int = 0,
      tasks: Int = 0, taskMs: Long = 0, inputBytes: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, outputBytes: Long = 0, outputRecords: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, writeJobs + o.writeJobs,
      stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
      inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      outputBytes + o.outputBytes, outputRecords + o.outputRecords)
  }

  /** A span with the work of its own jobs and of its descendants'. */
  final case class SpanReport(name: String, wallMs: Double, selfJobs: Int,
      work: Work, children: Seq[SpanReport])
  final case class QueryReport(action: String, phasesMs: Map[String, Long],
      graftRulesMs: Map[String, Double])
  final case class BatchReport(stream: String, batchId: Long, rows: Long,
      durationsMs: Map[String, Long])
  final case class Report(root: SpanReport, planningMs: Map[String, Long],
      graftRulesMs: Map[String, Double], queries: Seq[QueryReport],
      batches: Seq[BatchReport], unattributedJobs: Int)

  private final class Span(val id: Long, val name: String, val parent: Long) {
    val startNs: Long = System.nanoTime()
    @volatile var endNs: Long = -1L
  }

  private final class Job(val span: Option[Long], val exec: Option[Long]) {
    var work = Work(jobs = 1)
  }

  private final class Recorder(spark: SparkSession) extends SparkListener
      with QueryExecutionListener {
    private val sc = spark.sparkContext
    private val spans = new ConcurrentHashMap[Long, Span]()
    @volatile private var rootId = 0L
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    private val execSpan = new ConcurrentHashMap[Long, Long]()
    private val queries = new ConcurrentLinkedQueue[QueryReport]()
    private val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val streams = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress): Unit
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def install(): Unit = {
      sc.addSparkListener(this)
      spark.listenerManager.register(this)
      spark.streams.addListener(streams)
    }

    def uninstall(): Unit = {
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      spark.streams.removeListener(streams)
    }

    def span[T](name: String)(body: => T): T = {
      val prev = sc.getLocalProperty(SpanProp)
      val parent = Option(prev).map(_.toLong).filter(spans.containsKey)
        .getOrElse(rootId)
      val s = new Span(ids.incrementAndGet(), name, parent)
      spans.put(s.id, s)
      if (rootId == 0L) rootId = s.id
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(SpanProp, prev)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProp).map(_.toLong).filter(spans.containsKey)
      val exec = prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).map(_.toLong)
      for (s <- span; x <- exec) execSpan.putIfAbsent(x, s)
      val j = new Job(span, exec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, j))
      jobs.put(e.jobId, j)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
        j.work = j.work.copy(stages = j.work.stages + 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.work += (if (m == null) Work(tasks = 1) else Work(tasks = 1,
          taskMs = e.taskInfo.duration, inputBytes = m.inputMetrics.bytesRead,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          outputBytes = m.outputMetrics.bytesWritten,
          outputRecords = m.outputMetrics.recordsWritten))
      }

    def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(QueryReport(action,
        qe.tracker.phases.map { case (k, p) => k -> p.durationMs },
        qe.tracker.rules.collect { case (k, r) if k.startsWith("graft.") =>
          k -> r.totalTimeNs / 1e6 }))

    def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(action, qe, 0L)

    def report(): Report = {
      def spanOf(j: Job) = j.span.orElse(j.exec.flatMap(x => Option(execSpan.get(x))))
      def workOf(j: Job) = if (j.work.outputBytes > 0) j.work.copy(writeJobs = 1) else j.work
      val bySpan = jobs.values.asScala.toSeq.groupMap(spanOf)(workOf)
      val kids = spans.values.asScala.toSeq.sortBy(_.id).groupBy(_.parent)
      val now = System.nanoTime()
      def tree(s: Span): SpanReport = {
        val own = bySpan.getOrElse(Some(s.id), Nil)
        val children = kids.getOrElse(s.id, Nil).map(tree)
        val end = if (s.endNs < 0) now else s.endNs
        SpanReport(s.name, math.round((end - s.startNs) / 1e4) / 100.0,
          own.size, (own ++ children.map(_.work)).foldLeft(Work())(_ + _),
          children)
      }
      val qs = queries.asScala.toSeq
      def sum[V](f: QueryReport => Map[String, V])(implicit n: Numeric[V]) =
        qs.flatMap(f).groupMapReduce(_._1)(_._2)(n.plus)
      Report(tree(spans.get(rootId)), sum(_.phasesMs), sum(_.graftRulesMs), qs,
        batches.asScala.toSeq.map(p => BatchReport(
          Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
        bySpan.getOrElse(None, Nil).size)
    }
  }
}
