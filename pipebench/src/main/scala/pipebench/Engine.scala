package pipebench

import graft.model._
import graft.runtime.Pipeline
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** The engine-facing half of the benchmark: the pipeline specs it lands
  * with, the SQL it reads and checks with, and the session it runs in.
  */
object Engine {
  val Db = "bench"
  val Keys: Seq[String] = Seq("symbol", "date")

  private val sourceFields = Seq(
    FieldSpec("symbol", "string"), FieldSpec("date", "string"),
    FieldSpec("open", "double"), FieldSpec("high", "double"), FieldSpec("low", "double"),
    FieldSpec("close", "double"), FieldSpec("volume", "int"), FieldSpec("adj_close", "double"))
  private val csvSource = SourceSpec(schema = sourceFields,
    file = Some(FileSpec(csv = Some(CsvSpec()))))

  /** The reference's JS fixtures, read from the engine checkout. */
  def fixture(name: String): String = Paths.get("fixtures", name).toAbsolutePath.toString

  /** `stock_price_object_store_dq` + `_transform` in one spec: header check,
    * a regex rule on every column, the JS row rule (warn-only), dedup and
    * the JS transform, appended to a `date`-partitioned table.
    */
  def landingSpec(lake: Path, db: String, table: String,
      rules: Seq[(String, String)]): PipelineSpec =
    PipelineSpec(
      name = "stock_price",
      source = csvSource,
      dataQuality = Some(DataQualitySpec(
        validateFileHeader = true,
        rowRules = Seq(RowRuleSpec("script", Seq(fixture("stock_price_data_quality.js")))),
        columnRules = rules.map { case (c, re) => ColumnRuleSpec(c, "regex", re) })),
      transformation = Some(TransformSpec(deduplicate = true,
        rowFunctions = Seq(RowFunctionSpec("script",
          Seq(fixture("stock_price_transformation.js")))))),
      destination = DestinationSpec(
        schema = sourceFields ++ Seq(FieldSpec("year", "string"),
          FieldSpec("mynewcolumn", "double")),
        objectStore = Some(ObjectStoreSpec(path = lake.toString, database = db,
          table = table, partitionBy = Seq("date")))))

  /** `stock_price_object_store_iceberg_keys` without DQ or JS: keyed MERGE
    * into a `date`-partitioned table.
    */
  def mergeSpec(lake: Path, db: String, table: String): PipelineSpec =
    PipelineSpec(
      name = "stock_price_keys",
      source = csvSource,
      destination = DestinationSpec(schema = sourceFields,
        objectStore = Some(ObjectStoreSpec(path = lake.toString, database = db,
          table = table, partitionBy = Seq("date"), keyFields = Keys))))

  def land(spark: SparkSession, spec: PipelineSpec, file: Path): Pipeline.Result =
    Pipeline.run(spark, spec, file.toString)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    graft.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def money(c: String) = s"cast(round($c * 100) as bigint)"

  /** SQL for a table's [[ImageHash]]: the same canonical row text, hashed
    * and summed in the engine instead of collected.
    */
  def imageSql(table: String, cols: Seq[(String, Boolean)]): String = {
    val canon = cols.map { case (c, isMoney) =>
      s"coalesce(cast(${if (isMoney) money(c) else c} as string), '\\\\N')"
    }.mkString("concat_ws('|', ", ", ", ")")
    def word(from: Int) = s"coalesce(sum(cast(conv(substr(h, $from, 8), 16, 10) as bigint)), 0)"
    s"SELECT count(*), ${word(1)}, ${word(9)} FROM (SELECT sha2($canon, 256) AS h FROM $table)"
  }

  val QuoteCols: Seq[(String, Boolean)] = Seq("symbol" -> false, "date" -> false,
    "open" -> true, "high" -> true, "low" -> true, "close" -> true, "volume" -> false,
    "adj_close" -> true)
  val LandedCols: Seq[(String, Boolean)] = QuoteCols ++ Seq("year" -> false, "mynewcolumn" -> true)

  def imageOf(spark: SparkSession, table: String, cols: Seq[(String, Boolean)]): (Long, Long, Long) = {
    val r = spark.sql(imageSql(table, cols)).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Canonical text of a read's result rows, as [[Read.answer]] renders it. */
  def answerOf(rows: Array[org.apache.spark.sql.Row], ordered: Boolean): String = {
    val lines = rows.toSeq.map(r => Gen.canon(r.toSeq.map(Option(_))))
    (if (ordered) lines else lines.sorted).mkString("\n")
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files under `dir`: hidden and `_`-prefixed metadata excluded. */
  def dataFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(_.toString).toSet
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
