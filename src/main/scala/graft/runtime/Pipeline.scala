package graft.runtime

import graft.dq.{DataQualityRunner, SchemaValidation}
import graft.functions.GuidV5
import graft.model._
import graft.obs.Obs
import graft.script.RowScripts
import graft.sinks.{JdbcSink, ObjectStoreSink}
import graft.sources.FileSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import java.text.SimpleDateFormat

/** The config compiler: a [[PipelineSpec]] becomes one declarative DataFrame
  * pipeline — read → header-validate → DQ → dedup → script transform →
  * cast-to-destination → sink → catalog → notify. This is the engine's
  * equivalent of the reference's JobRunner sequence (JobRunner.scala:27-67):
  * same steps, same order, but each step is a DataFrame transformation that
  * Catalyst optimizes end-to-end instead of driver-held string rows.
  *
  * Scale: nothing here collects to the driver. The only driver-side work is
  * config interpretation and the per-run status/notification bookkeeping;
  * every data-touching step is a distributed plan. A 100 TB load runs the
  * identical code path — the read fans out over the input files, DQ is one
  * scan, the merge sink shuffles once on the key columns.
  */
object Pipeline {

  final case class Result(
      pipelineToken: String,
      dataset: String,
      table: Option[String],
      rowsWritten: Long,
      dqWarnings: Long,
      dedupRemoved: Long)

  val status = new StatusStore
  val events = new EventBus

  private val tsFormat = "yyyy-MM-dd HH:mm:ss.SSS z"

  /** Run the pipeline for one arriving file/directory. */
  def run(spark: SparkSession, spec0: PipelineSpec, inputPath: String,
      loadScript: String => String = defaultLoadScript): Result = {
    val spec = spec0.normalized.validated
    // the engine's SQL surface travels with the pipeline: custom kernels
    // plus the manifest-backed planner seams (zero-scan metadata
    // aggregates, zone-map file skipping) are available to every
    // downstream spark.sql over the tables this run lands. Idempotent.
    graft.GraftExtensions.register(spark)
    val token = GuidV5.nameUUID(s"${spec.name}:$inputPath:${System.nanoTime}").toString
    def info(step: String, msg: String): Unit = status.info(token, spec.name, step, msg)
    info("begin", s"Pipeline started for $inputPath")

    // ---- S6: unstructured passthrough (no parse, file copy + notify) ------
    spec.source.file.flatMap(_.unstructured).foreach { u =>
      val os = spec.destination.objectStore.getOrElse(throw new PipelineSpecException(
        s"dataset ${spec.name}: unstructured source needs an objectStore destination"))
      val destDir = Paths.get(os.path, os.database, os.table)
      Files.createDirectories(destDir)
      val src = Paths.get(inputPath)
      val name =
        if (u.preserveFilename) src.getFileName.toString
        else s"${GuidV5.nameUUID(src.getFileName.toString)}.${u.fileExtension}"
      Files.copy(src, destDir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      info("end", s"Unstructured file landed as $name")
      events.publish(EventBus.Notification(spec.name, token, "objectStore",
        os.database, os.table, destDir.resolve(name).toString))
      return Result(token, spec.name, None, 1L, 0L, 0L)
    }

    // ---- read -------------------------------------------------------------
    val raw = Obs.span("read")(FileSources.read(spark, spec, inputPath))
    // DQ, dedup accounting, and the sink each walk the data; cache the input
    // once so the SOURCE is scanned once per run — at 100 TB every extra
    // bookkeeping action would otherwise be a full re-read
    val multiPass = spec.dataQuality.isDefined ||
      spec.transformation.exists(_.deduplicate)
    if (multiPass) raw.persist()
    var out: Option[DataFrame] = None
    // one status process and one profiling span per step
    def step[T](process: String)(body: => T): T = {
      status.overrideProcessName(process)
      Obs.span(process)(body)
    }
    try {
      // ---- data quality ---------------------------------------------------
      val dqWarnings = spec.dataQuality.map(dq => step("DataQuality") {
        info("processing", "Running data quality")
        if (dq.validateFileHeader && spec.source.file.exists(_.csv.exists(_.header)))
          DataQualityRunner.validateHeader(raw, spec)
        dq.validationSchema.foreach(schemaPath =>
          validatePayloads(raw, spec, loadScript(schemaPath)))
        val violations = DataQualityRunner.columnRuleViolations(raw, spec)
          .unionByName(DataQualityRunner.rowRuleViolations(raw, spec, loadScript))
        val (_, warnings) = DataQualityRunner.enforce(violations)
        if (warnings > 0)
          status.warn(token, spec.name, "processing",
            s"$warnings warning(s) occurred while processing this dataset")
        warnings
      }).getOrElse(0L)

      // ---- transformation -------------------------------------------------
      var df = raw
      var dedupRemoved = 0L
      step("Transformation")(spec.transformation.foreach { t =>
        if (t.deduplicate) Obs.span("dedup") {
          // dedup on the PRE-CAST representation (reference dedups raw string
          // rows, Transformation.scala:57-69) — `1.0` and `1.00` stay
          // distinct. One aggregation pass computes total and distinct
          // together; the distinct() itself stays lazy and fuses into the
          // sink's plan.
          import org.apache.spark.sql.functions.{count, count_distinct, lit, struct}
          val a = df.agg(count(lit(1)).as("n"),
            count_distinct(struct(df.columns.map(col).toIndexedSeq: _*)).as("u"))
            .collect()(0)
          dedupRemoved = a.getLong(0) - a.getLong(1)
          df = df.distinct()
          if (dedupRemoved > 0)
            info("processing", s"$dedupRemoved rows were duplicates and removed")
        }
        t.rowFunctions
          .filter(f => f.function.equalsIgnoreCase("script") ||
            f.function.equalsIgnoreCase("javascript"))
          .foreach { f =>
            val path = f.parameters.headOption.getOrElse(throw new PipelineSpecException(
              s"row function for dataset ${spec.name} has no script parameter"))
            info("processing", s"Running row function: script $path")
            val pipelineTs = new SimpleDateFormat(tsFormat)
              .format(new java.util.Date())
            df = RowScripts.transform(df, loadScript(path), spec.source.schema,
              spec.destination.schema, pipelineTs)
          }
      })

      // ---- destination cast + sinks ----------------------------------------
      val (table, rows) = step("Load") {
        val castDf = FileSources.applyDestinationSchema(df, spec.destination.schema,
          spec.decimalCompat)
        // split assignment rides AFTER the cast so the configured id field is
        // addressed by its destination name; the appended bucket/split columns
        // extend the destination schema (partitionBy("split") → per-split dirs)
        val outDf = spec.transformation.flatMap(_.split) match {
          case Some(sp) =>
            if (!castDf.columns.contains(sp.idField))
              throw new PipelineSpecException(
                s"split.idField '${sp.idField}' is not a destination column " +
                  s"of dataset ${spec.name}")
            info("processing", s"Assigning train/val/test split on ${sp.idField}")
            graft.operators.DatasetSplit.assign(castDf, sp.idField, sp.trainPm, sp.valPm)
          case None => castDf
        }
        val anySink = spec.destination.objectStore.nonEmpty ||
          spec.destination.database.nonEmpty
        // the sink write materializes the cache; rowsWritten then reads it
        // back instead of re-running the pipeline or re-scanning the table
        if (anySink) outDf.persist()
        out = Some(outDf)
        var table: Option[String] = None
        var rows = 0L
        spec.destination.objectStore.foreach { os =>
          info("processing", s"Writing to object store table ${os.database}.${os.table}")
          val fq = ObjectStoreSink.write(spark, outDf, os)
          table = Some(fq)
          rows = outDf.count()
          events.publish(EventBus.Notification(spec.name, token, "objectStore",
            os.database, os.table, Paths.get(os.path, os.database, os.table).toString))
        }
        spec.destination.database.foreach { db =>
          info("processing", s"Writing to JDBC table ${db.table}")
          JdbcSink.write(outDf, db)
          if (table.isEmpty) rows = outDf.count()
          events.publish(EventBus.Notification(spec.name, token, "database",
            "", db.table, db.url))
        }
        (table, rows)
      }

      status.overrideProcessName("Pipeline")
      info("end", "Process completed successfully")
      Result(token, spec.name, table, rows, dqWarnings, dedupRemoved)
    } finally {
      if (multiPass) raw.unpersist()
      out.foreach(_.unpersist())
    }
  }

  /** Validate every semi-structured payload row against the configured
    * JSON-Schema/XSD; aborts on the first invalid payload. Distributed —
    * validation runs where the rows are; only the first error message moves.
    */
  private def validatePayloads(df: DataFrame, spec: PipelineSpec, schema: String): Unit = {
    val isJson = spec.source.file.exists(_.json.isDefined)
    val colName = if (isJson) "_json" else "_xml"
    import org.apache.spark.sql.Encoders
    val errors = df.select(col(colName).cast("string")).na.drop()
      .mapPartitions { it =>
        it.flatMap { row =>
          try {
            if (isJson) SchemaValidation.validateJson(row.getString(0), schema)
            else SchemaValidation.validateXml(row.getString(0), schema)
            None
          } catch {
            case e: SchemaValidation.ValidationException => Some(e.getMessage)
          }
        }
      }(Encoders.STRING)
    errors.take(1).headOption.foreach { msg =>
      throw new DataQualityRunner.DataQualityException(
        s"dataset ${spec.name}: validation schema failure: $msg")
    }
  }

  private def defaultLoadScript(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
}
