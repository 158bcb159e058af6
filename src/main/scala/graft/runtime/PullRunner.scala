package graft.runtime

import graft.cdc.{JdbcPull, WatermarkStore}
import graft.model.PipelineSpec
import graft.sinks.{JdbcSink, ObjectStoreSink}
import graft.sources.FileSources
import org.apache.spark.sql.SparkSession

import java.time.ZonedDateTime
import scala.collection.mutable

/** S7's scheduler loop: for every registered dataset with a JDBC source,
  * fire the incremental pull when its cron is due and land the batch in the
  * dataset's destination (reference ScheduledBatchTasks.scala:41-51 +
  * DataPuller.run).
  *
  * Deliberate improvement over the reference: the pulled batch goes
  * STRAIGHT into the destination as a DataFrame — the reference serializes
  * it to CSV in the raw bucket and re-enters the file pipeline
  * (DataPuller.scala:36-68), a round-trip that exists only because its
  * pull path can't feed its load path in memory. Ours can; the CSV hop
  * (and its type-erasure) disappears.
  */
final class PullRunner(
    spark: SparkSession,
    specs: Map[String, PipelineSpec],
    store: WatermarkStore) {
  import PullRunner.PullOutcome

  private val lastRuns = mutable.Map.empty[String, ZonedDateTime]

  /** One scheduler tick: pull + land every due dataset. */
  def runDue(now: ZonedDateTime = ZonedDateTime.now()): Seq[PullOutcome] =
    specs.toSeq.sortBy(_._1).flatMap { case (name, spec0) =>
      val spec = spec0.normalized.validated
      spec.source.database.flatMap { db =>
        if (!JdbcPull.isDue(db, lastRuns.get(name), now)) None
        else {
          lastRuns(name) = now
          val pulled = JdbcPull.pull(spark, name, db, store)
          if (pulled.rows == 0) Some(PullOutcome(name, 0, None))
          else {
            val df = FileSources.lowercaseHeaders(pulled.df)
            val out =
              if (spec.destination.schema.nonEmpty)
                FileSources.applyDestinationSchema(df, spec.destination.schema)
              else df
            val table = spec.destination.objectStore.map(os =>
              ObjectStoreSink.write(spark, out, os))
            spec.destination.database.foreach(JdbcSink.write(out, _))
            // watermark advances ONLY after every destination write landed —
            // a sink failure above aborts before this line and the next due
            // tick re-pulls the same window (at-least-once, never loss)
            pulled.commit(store, name)
            table.foreach { fq =>
              Pipeline.events.publish(EventBus.Notification(
                name, "", "objectStore",
                spec.destination.objectStore.get.database,
                spec.destination.objectStore.get.table, fq))
            }
            Some(PullOutcome(name, pulled.rows, table))
          }
        }
      }
    }
}

object PullRunner {
  final case class PullOutcome(dataset: String, rows: Long, table: Option[String])
}
