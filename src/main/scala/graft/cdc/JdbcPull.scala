package graft.cdc

import graft.model.{JdbcSourceSpec, SecretRef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.time.ZonedDateTime
import scala.jdk.CollectionConverters._

/** Watermark store: dataset → last pulled timestamp/sequence, persisted as a
  * properties file — the local metadata stand-in for the reference's
  * DynamoDB pull table (DataPullTableUtil.scala:35-102). Write-then-rename
  * so a crash can't leave a torn file.
  */
final class WatermarkStore(path: Path) {
  Files.createDirectories(path.getParent)

  private def load(): java.util.Properties = {
    val p = new java.util.Properties()
    if (Files.exists(path)) {
      val in = Files.newInputStream(path)
      try p.load(in) finally in.close()
    }
    p
  }

  def get(dataset: String): Option[String] =
    Option(load().getProperty(dataset))

  def set(dataset: String, watermark: String): Unit = synchronized {
    val p = load()
    p.setProperty(dataset, watermark)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val out = Files.newOutputStream(tmp)
    try p.store(out, "graft watermarks") finally out.close()
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def all: Map[String, String] =
    load().asScala.map { case (k, v) => (k.toString, v.toString) }.toMap
}

/** S7: scheduled JDBC incremental pull (reference DataPuller.scala:36-235),
  * Spark-first. The watermark predicate is pushed INTO the source database
  * via a pushdown subquery — `(SELECT fields FROM t WHERE ts > wm) q` — so
  * only new rows ever cross the wire; Spark never scans the remote table.
  *
  * `includeFields` projects server-side with the timestamp column forced
  * last (reference getFieldNames, :213-235); `sqlOverride` replaces the
  * generated SELECT entirely. The new watermark is the batch's max(ts).
  */
object JdbcPull {

  /** One pulled batch. `df` is a materialized snapshot ([[snapshot]]): the
    * sink consumes the same rows the watermark was computed from, and the
    * source database is hit exactly once per poll. `newWatermark` is a
    * CANDIDATE — nothing is persisted until [[PullResult.commit]], which the
    * caller invokes only after the destination write succeeds (reference
    * ordering: DataPuller.scala:36-68 writes the file before updating the
    * pull table). A sink failure therefore leaves the stored watermark
    * unchanged and the next poll re-delivers the same window: at-least-once,
    * never silent loss.
    */
  final case class PullResult(df: DataFrame, newWatermark: Option[String], rows: Long) {
    def commit(store: WatermarkStore, dataset: String): Unit =
      if (rows > 0) newWatermark.foreach(store.set(dataset, _))
  }

  def pull(spark: SparkSession, dataset: String, spec: JdbcSourceSpec,
      store: WatermarkStore): PullResult = {
    val ts = spec.timestampFieldName
    require(spec.sqlOverride.isDefined || ts.nonEmpty,
      s"dataset $dataset: jdbc source needs timestampFieldName or sqlOverride")
    val watermark = store.get(dataset)
    // the predicate is interpolated into the pushdown subquery (JDBC dbtable
    // cannot carry bind parameters); both pieces come from stored state, so
    // constrain them to their expected shapes before they touch SQL
    require(ts.isEmpty || ts.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"dataset $dataset: timestampFieldName '$ts' is not a plain identifier")
    watermark.foreach(w => require(w.matches("[0-9][0-9 :.+TZ\\-]*"),
      s"dataset $dataset: stored watermark '$w' is not a timestamp/sequence literal"))
    val fields =
      if (spec.includeFields.nonEmpty)
        (spec.includeFields.filterNot(_ == ts) :+ ts).mkString(", ")
      else "*"
    val baseSql = spec.sqlOverride.getOrElse {
      val where = watermark.map(w => s" WHERE $ts > '$w'").getOrElse("")
      s"SELECT $fields FROM ${spec.table}$where"
    }
    val reader = spark.read.format("jdbc")
      .option("url", SecretRef.resolve(spec.url))
      .option("dbtable", s"($baseSql) pull_q")
    spec.driver.foreach(reader.option("driver", _))
    // credential indirection resolves here too (see model.SecretRef)
    spec.user.foreach(u => reader.option("user", SecretRef.resolve(u)))
    spec.password.foreach(pw => reader.option("password", SecretRef.resolve(pw)))
    // Snapshot the poll window in one JDBC read. Without this the DataFrame
    // is lazy and the source is re-queried by every downstream action — the
    // watermark aggregate, the sink, and any bookkeeping could each see a
    // DIFFERENT live snapshot (rows arriving between reads are acknowledged
    // but never landed). A poll window is bounded, so materializing it is
    // cheap relative to a second wire trip.
    val df = snapshot(reader.load())
    val (rows, newWm) =
      if (ts.nonEmpty && df.columns.map(_.toLowerCase).contains(ts.toLowerCase)) {
        val agg = df.agg(count(lit(1)).as("n"), max(col(ts)).cast("string").as("wm"))
          .collect()(0)
        (agg.getLong(0), Option(agg.getString(1)))
      } else (df.count(), None)
    PullResult(df, if (rows > 0) newWm else watermark, rows)
  }

  /** Materialize a bounded poll window as a STABLE snapshot. Lineage is
    * cut first (fresh RDD identity) so canonical-plan cache matching can
    * never serve a previous poll's cached rows for a re-polled window with
    * the same predicate; the rows persist to MEMORY_AND_DISK under the
    * CacheManager, so unpersist/clearCache frees them deterministically —
    * unlike `localCheckpoint(true)` blocks, which only driver GC reclaims.
    * The eager count is the single wire trip.
    */
  private[cdc] def snapshot(df: DataFrame): DataFrame = {
    val cut = df.sparkSession.createDataFrame(df.rdd, df.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cut.count(): Unit
    cut
  }

  /** Is this dataset due per its cron expression? (reference
    * ScheduledBatchTasks.checkForDatabaseSourceQueries semantics: fire when
    * now passes the next-fire-after-last-run point).
    */
  def isDue(spec: JdbcSourceSpec, lastRun: Option[ZonedDateTime],
      now: ZonedDateTime): Boolean =
    spec.cronExpression match {
      case None => true
      case Some(c) =>
        lastRun match {
          case None => true
          case Some(lr) => !CronExpr(c).nextAfter(lr).isAfter(now)
        }
    }
}
