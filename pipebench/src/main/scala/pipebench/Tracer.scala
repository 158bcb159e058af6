package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span: one call the benchmark made into the engine (or a micro-batch of
  * a running stream), with the Spark jobs that ran under it as children.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
}

/** One Spark job with the layer it is attributed to and its task totals. */
final class JobRec(val id: Int, val layer: String, val span: Int, val batch: Option[Long],
    val start: Long) {
  @volatile var end: Long = -1L
  var stages, tasks = 0
  var taskNs, cpuNs, inputBytes, inputRecords, shuffleWriteBytes, outputBytes,
    outputRecords, spillBytes = 0L
}

/** In-memory tracing for the traced run: spans around the benchmark's own
  * calls, and a listener that attributes every Spark job to a layer.
  *
  * A job belongs to the layer that triggered it. Jobs of a SQL execution are
  * looked up by `spark.sql.execution.root.id` in the call site recorded at
  * that execution's start, and the package of the innermost `graft.` frame
  * names the layer — AQE runs query stages on a pool thread whose own call
  * site has lost the caller, but the root execution's has not. A job outside
  * any SQL execution uses its own call site. Work fused into another layer's
  * job shows under the triggering layer, and a stream's jobs carry the
  * stream's start site. Jobs the benchmark triggers itself (its reads) carry
  * the layer the benchmark set on the thread; anything left is reported as
  * `unattributed`.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var current = 0
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** Micro-batch id -> the span recorded for it. */
  val batchSpan = new ConcurrentHashMap[Long, Int]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  // listener events arrive late and carry epoch-ms times; spans use nanoTime
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nanoOf(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  def install(): Unit = sc.addSparkListener(this)
  def uninstall(): Unit = sc.removeSparkListener(this)

  /** Run `body` as a span under the current one; jobs it starts on this
    * thread are its children.
    */
  def span[T](name: String, layer: String)(body: Span => T): T = {
    val s = open(name, layer)
    val prevLayer = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body(s)
    finally {
      close(s)
      sc.setLocalProperty(LayerProp, prevLayer)
      sc.setLocalProperty(SpanProp, if (s.parent == 0) null else s.parent.toString)
    }
  }

  private def open(name: String, layer: String): Span =
    spans.synchronized {
      val s = Span(spans.size + 1, current, name, layer, System.nanoTime())
      spans += s
      current = s.id
      s
    }

  private def close(s: Span): Unit = spans.synchronized {
    s.end = System.nanoTime()
    if (current == s.id) current = s.parent
  }

  /** A finished span recorded after the fact (a stream's micro-batch). */
  def record(name: String, layer: String, start: Long, end: Long): Span =
    spans.synchronized {
      val s = Span(spans.size + 1, 0, name, layer, start)
      s.end = end
      spans += s
      s
    }

  private def currentSpan: Int = spans.synchronized(current)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      layerOf(e.details).foreach(execLayer.put(e.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val root = prop(RootExecProp).orElse(prop(ExecProp)).map(_.toLong)
    val layer = root.flatMap(r => Option(execLayer.get(r)))
      .orElse(e.stageInfos.iterator.flatMap(s => layerOf(s.details)).nextOption())
      .orElse(prop(LayerProp))
      .getOrElse(Unattributed)
    val span = prop(SpanProp).map(_.toInt).getOrElse(currentSpan)
    val rec = new JobRec(e.jobId, layer, span, prop(BatchProp).map(_.toLong), nanoOf(e.time))
    rec.stages = e.stageInfos.size
    e.stageInfos.foreach(s => stageJob.put(s.stageId, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = nanoOf(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        j.taskNs += e.taskInfo.duration * 1000000L
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRecords += m.outputMetrics.recordsWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Jobs under span `id` or any of its descendants. */
  def jobsUnder(id: Int): Seq[JobRec] = {
    val ids = descendants(id)
    jobList.filter(j => ids(j.span))
  }

  private def descendants(id: Int): Set[Int] = spans.synchronized {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  /** Spans and jobs as one JSON document: jobs are spans of layer
    * `job:<layer>` whose parent is the span they ran under.
    */
  def toJson(t0: Long): String = {
    def ms(t: Long) = if (t < 0) "null" else f"${(t - t0) / 1e6}%.3f"
    val sb = new StringBuilder("{\"spans\":[\n")
    val ss = spans.synchronized(spans.toList)
    val lines = ss.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${ms(s.start)},"end_ms":${ms(s.end)},""" +
        s""""attrs":{$attrs}}"""
    } ++ jobList.map { j =>
      val parent = j.batch.flatMap(b => Option(batchSpan.get(b))).getOrElse(j.span)
      s"""{"id":"job-${j.id}","parent":$parent,"name":"job ${j.id}",""" +
        s""""layer":${Json.str("job:" + j.layer)},"start_ms":${ms(j.start)},"end_ms":${ms(j.end)},""" +
        s""""attrs":{"tasks":${j.tasks},"stages":${j.stages},"task_ms":${j.taskNs / 1000000},""" +
        s""""input_bytes":${j.inputBytes},"shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""output_bytes":${j.outputBytes},"batch":${j.batch.getOrElse("null")}}}"""
    }
    sb.append(lines.mkString(",\n")).append("\n]}\n").toString
  }
}

object Tracer {
  val Unattributed = "unattributed"
  val LayerProp = "pipebench.layer"
  val SpanProp = "pipebench.span"
  private val RootExecProp = "spark.sql.execution.root.id"
  private val ExecProp = "spark.sql.execution.id"
  private val BatchProp = "streaming.sql.batchId"
  private val Frame = """\bgraft\.([a-z_]+)\.""".r

  /** The package of the innermost `graft.` frame of a call site. */
  def layerOf(callSite: String): Option[String] =
    Option(callSite).flatMap(cs => Frame.findFirstMatchIn(cs).map(_.group(1)))

  /** Wall time covered by at least one of the intervals. */
  def busyNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    intervals.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) total += hi - lo
    total
  }
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case s => str(s.toString)
  }
}
