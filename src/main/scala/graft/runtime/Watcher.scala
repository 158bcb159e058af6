package graft.runtime

import graft.model.PipelineSpec
import graft.sources.Intake
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** S1: the ingestion trigger — a watched landing directory with a
  * processed-file ledger, replacing the reference's S3-event → SQS poll →
  * DynamoDB message-id dedup loop (ScheduledBatchTasks.scala:53-98).
  *
  * `poll()` scans the landing dir once, resolves each unseen file through
  * the intake conventions (filename / manifest / archive), runs the
  * matching dataset's pipeline, and records the file in the ledger so a
  * crash-and-restart never double-processes — the same at-least-once-with-
  * dedup contract the reference gets from its TTL table. Call it from any
  * scheduler (cron, a loop thread, or a Structured Streaming trigger).
  */
final class Watcher(
    spark: SparkSession,
    landingDir: Path,
    specs: Map[String, PipelineSpec],
    ledgerPath: Path,
    maxRetries: Int = 3) {
  import Watcher.Processed

  /** Ledger replay: one line per event — `name` = success, `name\tfail` =
    * one failed attempt. A success is terminal; failures accumulate until
    * `maxRetries`, after which the file is dead-lettered (skipped, listed in
    * [[deadLettered]]). Transient errors (JDBC lock, temp-dir exhaustion)
    * therefore get retried on later polls instead of being silently marked
    * done — the reference consumes the SQS message either way and relies on
    * uploader re-delivery, which the ledger's filename dedup would ignore.
    */
  private def ledgerState: (Set[String], Map[String, Int]) =
    if (!Files.exists(ledgerPath)) (Set.empty, Map.empty)
    else {
      val lines = Files.readAllLines(ledgerPath).asScala.map(_.trim).filter(_.nonEmpty)
      val (fails, oks) = lines.partition(_.endsWith("\tfail"))
      (oks.toSet, fails.groupBy(_.stripSuffix("\tfail")).map { case (k, v) => (k, v.size) })
    }

  /** Files that exhausted their retry budget and need operator attention. */
  def deadLettered: Seq[String] = {
    val (oks, fails) = ledgerState
    fails.collect { case (n, c) if c >= maxRetries && !oks(n) => n }.toSeq.sorted
  }

  private def record(line: String): Unit = {
    Files.createDirectories(ledgerPath.getParent)
    Files.writeString(ledgerPath, line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** One scan: process every file that is neither done nor dead-lettered;
    * returns what happened per file. Failures burn one retry; successes are
    * terminal.
    */
  def poll(): Seq[Processed] = {
    val (done, fails) = ledgerState
    val files = {
      val s = Files.list(landingDir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")) // ledger/partials
        .toVector.sortBy(_.toString)
      finally s.close()
    }
    files.filterNot { f =>
      val n = f.getFileName.toString
      done(n) || fails.getOrElse(n, 0) >= maxRetries
    }.map { f =>
      val name = f.getFileName.toString
      val outcome =
        try {
          val meta = Intake.resolve(f.toString)
          val spec = specs.getOrElse(meta.dataset,
            throw new IllegalArgumentException(
              s"no registered dataset '${meta.dataset}' for file $name"))
          val input =
            if (meta.paths.size == 1) meta.paths.head
            else Paths.get(meta.paths.head).getParent.toString
          Right(Pipeline.run(spark, spec, input))
        } catch { case e: Throwable => Left(e) }
      record(if (outcome.isRight) name else name + "\tfail")
      Processed(name, outcome.toOption.map(_.dataset).getOrElse("?"), outcome)
    }
  }
}

object Watcher {
  final case class Processed(file: String, dataset: String,
      result: Either[Throwable, Pipeline.Result])
}
