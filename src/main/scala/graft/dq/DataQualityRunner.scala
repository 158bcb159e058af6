package graft.dq

import graft.model._
import graft.script.RowScripts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Config-driven data-quality engine (SURVEY §2.10), Spark-first.
  *
  * Reference semantics preserved (DataQuality.scala:28-188):
  *   - `validateFileHeader`: incoming header must equal the source schema
  *     names in exact order, case-insensitively; mismatch aborts.
  *   - `columnRules`: per-cell regex with FULL-match semantics (Java
  *     `String.matches`, not find()); only the "regex" function exists,
  *     anything else throws. Violations numbered header+2 (data row 0 =
  *     file line 2).
  *   - `rowRules`: script predicates (graft.script) returning null = pass.
  *   - failure policy: any error-level violation aborts the dataset; more
  *     than 100 error rows aborts early; warnings are only counted.
  *
  * Scale: violations stay a DataFrame end-to-end; the early-abort check
  * fetches at most 101 error rows (`limit(101)`) instead of counting the
  * full violation set, so a pathological file doesn't force a full scan
  * before aborting.
  */
object DataQualityRunner {

  final class DataQualityException(msg: String) extends RuntimeException(msg)

  val violationSchema: StructType = StructType(Seq(
    StructField("rule", StringType, nullable = false),
    StructField("column_name", StringType, nullable = true),
    StructField("row_number", LongType, nullable = false),
    StructField("is_error", BooleanType, nullable = false),
    StructField("message", StringType, nullable = false)))

  /** P-header: validate header order/names (DataQuality.scala:73-80). */
  def validateHeader(df: DataFrame, spec: PipelineSpec): Unit = {
    val header = df.columns
    spec.source.schema.zip(header).foreach { case (field, column) =>
      if (field.name.compareToIgnoreCase(column) != 0)
        throw new DataQualityException(
          s"The incoming header on the data file does not match the source schema " +
            s"for dataset: ${spec.name}, failed comparing column: $column " +
            s"with source schema field: ${field.name}")
    }
    if (header.length < spec.source.schema.length)
      throw new DataQualityException(
        s"dataset ${spec.name}: header has ${header.length} columns, " +
          s"schema declares ${spec.source.schema.length}")
  }

  /** All column-rule violations as a DataFrame (rule, column, row_number,
    * is_error, message). Cells are matched as strings; null → "" like the
    * reference's raw-row split.
    */
  def columnRuleViolations(df: DataFrame, spec: PipelineSpec): DataFrame = {
    val rules = spec.dataQuality.map(_.columnRules).getOrElse(Nil)
    val spark = df.sparkSession
    if (rules.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), violationSchema)
    val srcNames = spec.source.schema.map(_.name)
    rules.foreach { r =>
      if (r.function != "regex")
        throw new DataQualityException(
          s"Data quality rule: ${r.function} for column: ${r.columnName.toLowerCase} " +
            "is not defined in the Data Quality Engine")
      if (!srcNames.contains(r.columnName.toLowerCase))
        throw new DataQualityException(
          s"Column rule field: ${r.columnName} was not found in the source schema")
    }
    // One pass: number rows in scan order, then explode one violation row
    // per failing (cell, rule).
    val numbered = withRowNumbers(df)
    val checks = rules.map { r =>
      val cname = r.columnName.toLowerCase
      val cell = coalesce(col(cname).cast(StringType), lit(""))
      // String.matches is a FULL match — anchor the user pattern.
      val ok = cell.rlike("\\A(?:" + r.parameter + ")\\z")
      when(!ok, struct(
        lit("regex").as("rule"),
        lit(cname).as("column_name"),
        col("_graft_row_number").as("row_number"),
        lit(r.onFailureIsError).as("is_error"),
        concat(lit("Data quality regular expression failure on row: "),
          col("_graft_row_number"), lit(s", column: $cname, rule: regex=${r.parameter}"))
          .as("message")))
    }
    numbered
      .select(explode(array(checks: _*)).as("v"))
      .filter(col("v").isNotNull)
      .select("v.rule", "v.column_name", "v.row_number", "v.is_error", "v.message")
  }

  /** Script row-rule violations in the same shape. */
  def rowRuleViolations(df: DataFrame, spec: PipelineSpec,
      loadScript: String => String): DataFrame = {
    val rules = spec.dataQuality.map(_.rowRules).getOrElse(Nil)
      .filter(r => r.function.equalsIgnoreCase("script") ||
        r.function.equalsIgnoreCase("javascript"))
    val spark = df.sparkSession
    if (rules.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), violationSchema)
    rules.map { rule =>
      val path = rule.parameters.headOption.getOrElse(
        throw new DataQualityException(
          s"Script row rule for dataset ${spec.name} has no script parameter"))
      RowScripts.rowRuleFailures(df, loadScript(path), spec.source.schema,
        rule.onFailureIsError)
        .select(lit("script").as("rule"), lit(null).cast(StringType).as("column_name"),
          col("row_number"), col("is_error"), col("message"))
    }.reduce(_ unionByName _)
  }

  /** Apply the failure policy to a violation set; returns (errors, warnings)
    * actually counted (errors capped at 101 by the early abort).
    */
  def enforce(violations: DataFrame): (Long, Long) = {
    val errors = violations.filter(col("is_error")).limit(101).count()
    if (errors > 100)
      throw new DataQualityException(
        "Aborting processing, more than 100 data quality column rule errors")
    if (errors > 0)
      throw new DataQualityException(
        s"Aborting processing this dataset, $errors error(s) were found " +
          "while performing data quality rules")
    val warnings = violations.count()
    (errors, warnings)
  }

  /** Scan-order row numbering with the reference's header+2 convention. */
  private def withRowNumbers(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add("_graft_row_number", LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + 2L))
    }
    spark.createDataFrame(rdd, schema)
  }
}
