package graft.runtime

import java.time.Instant
import scala.collection.mutable

/** Per-step pipeline telemetry (reference StatusUtil.scala:80-113 +
  * DatasetStatus model): every pipeline step logs begin/processing/end rows
  * keyed by the run's pipeline token. In-process store, queryable as rows or
  * as a DataFrame for SQL over run history — the local stand-in for the
  * reference's DynamoDB status table.
  */
final class StatusStore(maxRetained: Int = 200000) {
  import StatusStore.StatusRow

  private val rows = mutable.ArrayBuffer.empty[StatusRow]
  private var process = "Pipeline"

  def overrideProcessName(name: String): Unit = synchronized { process = name }

  def info(token: String, dataset: String, step: String, msg: String): Unit =
    add(token, dataset, step, "info", msg)
  def warn(token: String, dataset: String, step: String, msg: String): Unit =
    add(token, dataset, step, "warn", msg)
  def error(token: String, dataset: String, step: String, msg: String): Unit =
    add(token, dataset, step, "error", msg)

  private def add(token: String, dataset: String, step: String, level: String,
      msg: String): Unit = synchronized {
    rows += StatusRow(token, dataset, process, step, level, msg, Instant.now())
    // bounded retention — the reference's DynamoDB status table has a TTL;
    // an in-process store in a long-lived service needs the same discipline.
    // Chunked trim keeps the amortized cost O(1) per row.
    if (rows.length > maxRetained + maxRetained / 10)
      rows.remove(0, rows.length - maxRetained)
  }

  def all: Seq[StatusRow] = synchronized { rows.toVector }

  def forToken(token: String): Seq[StatusRow] =
    synchronized { rows.filter(_.pipelineToken == token).toVector }

  def toDataFrame(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    synchronized {
      rows.toVector.map(r => (r.pipelineToken, r.dataset, r.processName, r.step,
        r.level, r.message, r.ts.toString))
    }.toDF("pipeline_token", "dataset", "process_name", "step", "level", "message", "ts")
  }
}

object StatusStore {
  final case class StatusRow(
      pipelineToken: String,
      dataset: String,
      processName: String,
      step: String, // begin | processing | end | error
      level: String, // info | warn | error
      message: String,
      ts: Instant)
}
