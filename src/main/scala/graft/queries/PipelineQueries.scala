package graft.queries

import graft.model._
import graft.runtime.Pipeline
import graft.dq.DataQualityRunner
import graft.sinks.JdbcSink
import graft.sources.FileSources
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the PIPELINE ENGINE itself (the round-2
  * spine): each runs a real config-driven pipeline (or one of its
  * operators) over the committed CSV fixtures and exposes the landed result
  * for the DuckDB hash-compare. The oracle reads the same CSV with
  * `read_csv` and replays the declared semantics in SQL.
  *
  * These queries ignore `sfDir` by design — their input is the fixture
  * corpus the reference itself ships (FIXTURES.md §1).
  */
object PipelineQueries {

  private val FixtureDir = "/root/repo/fixtures"
  private val BigCsv = s"$FixtureDir/stock_price.20170102.dataset.csv"
  private val SmallCsv = s"$FixtureDir/stock_price.20170102.small.dataset.csv"

  private val stockFields = Seq("symbol" -> "string", "date" -> "string",
    "open" -> "double", "high" -> "double", "low" -> "double",
    "close" -> "double", "volume" -> "int", "adj_close" -> "double")
    .map { case (n, t) => FieldSpec(n, t) }

  /** DuckDB read_csv with the stock schema as all-VARCHAR (same as the
    * engine's pre-cast string read).
    */
  private def srcSql(path: String): String = {
    val cols = stockFields.map(f => s"'${f.name}':'VARCHAR'").mkString("{", ",", "}")
    s"read_csv('$path', header=true, columns=$cols)"
  }

  // rolling scratch dirs: Bench invokes each query warmup+repeats times in
  // one JVM — per-tag rolling keeps the on-disk fixture state bounded to
  // one live tree per query (see graft.Scratch)
  private def freshLake(tag: String): String = graft.Scratch.fresh(s"graft-$tag")

  val defs: Seq[QueryDef] = Seq(

    // ---- the flagship: full config-driven pipeline, end to end ------------
    // read CSV → header-validate → warn-level DQ → dedup → script row
    // function (drop FAX, adj_close+1, add year + mynewcolumn) → cast to
    // destination schema → partitioned parquet + catalog → SQL over the
    // landed table.
    QueryDef(
      "q_pipeline_e2e",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_pipeline_e2e",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          dataQuality = Some(DataQualitySpec(
            validateFileHeader = true,
            columnRules = Seq(
              ColumnRuleSpec("symbol", "regex", "[a-zA-Z]+"),
              ColumnRuleSpec("volume", "regex", "[0-9]+")))),
          transformation = Some(TransformSpec(
            deduplicate = true,
            rowFunctions = Seq(RowFunctionSpec("script",
              Seq(s"$FixtureDir/stock_price_transformation.js"))))),
          destination = DestinationSpec(
            schema = stockFields ++ Seq(FieldSpec("year", "string"),
              FieldSpec("mynewcolumn", "double")),
            objectStore = Some(ObjectStoreSpec(path = freshLake("e2e"),
              database = "graft_q", table = "q_pipeline_e2e",
              partitionBy = Seq("date"), writeMode = "overwrite",
              deleteBeforeWrite = true))))
        val res = Pipeline.run(s, spec, BigCsv)
        val cols = spec.destination.schema.map(f => col(f.name))
        s.table(res.table.get)
          .select(cols: _*)
          .orderBy(cols: _*)
      },
      Some {
        val castCols =
          """symbol, date,
            |TRY_CAST(open AS DOUBLE) AS open, TRY_CAST(high AS DOUBLE) AS high,
            |TRY_CAST(low AS DOUBLE) AS low, TRY_CAST(close AS DOUBLE) AS close,
            |TRY_CAST(volume AS INTEGER) AS volume,
            |TRY_CAST(CAST(TRY_CAST(adj_close AS DOUBLE) + 1.0 AS VARCHAR) AS DOUBLE) AS adj_close,
            |CAST(year(now()) AS VARCHAR) AS year,
            |CAST(100.0 AS DOUBLE) AS mynewcolumn""".stripMargin
        s"""WITH dedup AS (SELECT DISTINCT * FROM ${srcSql(BigCsv)}),
           |kept AS (SELECT * FROM dedup WHERE symbol <> 'FAX' OR symbol IS NULL)
           |SELECT $castCols FROM kept
           |ORDER BY symbol, date, open, high, low, close, volume, adj_close, year, mynewcolumn""".stripMargin
      }),

    // ---- DQ column-rule report (§2.10) ------------------------------------
    // Rules chosen to actually fire on the big fixture: prices must have
    // exactly 2 decimals (6-decimal rows violate), volume must be < 7
    // digits. Aggregated per rule (row-number detail is covered by unit
    // tests; DuckDB here lacks a stable file-order row id).
    QueryDef(
      "q_dq_report",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_dq_report",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          dataQuality = Some(DataQualitySpec(columnRules = Seq(
            ColumnRuleSpec("open", "regex", """(?:0|[1-9][0-9]*)\.[0-9]{2}""",
              onFailureIsError = false, description = "2dp price"),
            ColumnRuleSpec("volume", "regex", "[0-9]{1,6}",
              onFailureIsError = true, description = "volume<1e7"),
            ColumnRuleSpec("symbol", "regex", "[A-Z]+",
              onFailureIsError = false, description = "upper symbol")))),
          destination = DestinationSpec(
            objectStore = Some(ObjectStoreSpec(path = "/tmp/unused",
              database = "graft_q", table = "unused"))))
          .normalized.validated
        val raw = FileSources.read(s, spec, BigCsv)
        DataQualityRunner.columnRuleViolations(raw, spec)
          .groupBy("rule", "column_name", "is_error")
          .agg(count(lit(1)).as("n_violations"))
          .orderBy("column_name")
      },
      Some(
        s"""WITH src AS (SELECT * FROM ${srcSql(BigCsv)}),
           |v AS (
           |  SELECT 'open' AS column_name, FALSE AS is_error,
           |         SUM(CASE WHEN NOT regexp_full_match(COALESCE(open, ''), '(?:0|[1-9][0-9]*)\\.[0-9]{2}') THEN 1 ELSE 0 END) AS n_violations
           |  FROM src
           |  UNION ALL
           |  SELECT 'volume', TRUE,
           |         SUM(CASE WHEN NOT regexp_full_match(COALESCE(volume, ''), '[0-9]{1,6}') THEN 1 ELSE 0 END)
           |  FROM src
           |  UNION ALL
           |  SELECT 'symbol', FALSE,
           |         SUM(CASE WHEN NOT regexp_full_match(COALESCE(symbol, ''), '[A-Z]+') THEN 1 ELSE 0 END)
           |  FROM src)
           |SELECT 'regex' AS rule, column_name, is_error,
           |       CAST(n_violations AS BIGINT) AS n_violations
           |FROM v WHERE n_violations > 0 ORDER BY column_name""".stripMargin)),

    // ---- JDBC sink round-trip (K4-K6/J3) ----------------------------------
    // customer base → Derby table, then a modified batch delete+insert-merged
    // on the key, read back through the JDBC source. The oracle replays the
    // merge relationally.
    QueryDef(
      "q_jdbc_roundtrip",
      (s, d) => {
        val dbDir = freshLake("derby")
        val url = s"jdbc:derby:$dbDir/db;create=true"
        val cust = graft.Tables.load(s, d, "customer")
        val base = cust.filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val batch = cust.filter(col("c_custkey") > 400 && col("c_custkey") <= 600)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + lit(50.0)).as("c_acctbal"))
        val spec = JdbcSinkSpec(url = url, table = "cust_rt",
          keyFields = Seq("c_custkey"))
        JdbcSink.write(base, spec)
        JdbcSink.write(batch, spec) // merge path
        s.read.format("jdbc").option("url", url).option("dbtable", "cust_rt").load()
          .select(col("c_custkey").cast("bigint").as("c_custkey"), col("c_name"),
            col("c_acctbal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
             |       COALESCE(b.c_name, a.c_name) AS c_name,
             |       COALESCE(b.c_acctbal, a.c_acctbal) AS c_acctbal
             |FROM (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 500) a
             |FULL JOIN (SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal
             |           FROM customer WHERE c_custkey > 400 AND c_custkey <= 600) b
             |  ON a.c_custkey = b.c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- ORC lake roundtrip (K1 fileFormat surface beyond parquet) --------
    // The versioned-dir commit protocol is format-agnostic by design
    // (manifest rowCount is -1 for non-parquet — no footer reader — but
    // commit/supersede/retire and the catalog repoint are identical);
    // prove it with Spark's native ORC: overwrite commit + in-place append
    // through the same sink, read back through the catalog.
    QueryDef(
      "q_orc_roundtrip",
      (s, d) => {
        val spec = ObjectStoreSpec(path = freshLake("orc"),
          database = "graft_q", table = "q_orc_roundtrip",
          fileFormat = "orc", writeMode = "overwrite")
        val nation = graft.Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        graft.sinks.ObjectStoreSink.write(s, nation, spec)
        graft.sinks.ObjectStoreSink.write(s,
          nation.filter(col("n_nationkey") < 5)
            .withColumn("n_nationkey", col("n_nationkey") + 100),
          spec.copy(writeMode = "append"))
        s.table("graft_q.q_orc_roundtrip").orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
             |UNION ALL
             |SELECT n_nationkey + 100, n_name, n_regionkey FROM nation
             |WHERE n_nationkey < 5
             |ORDER BY n_nationkey""".stripMargin)),

    // ---- catalog SQL over a pipeline-landed partitioned table (K1+A4) -----
    QueryDef(
      "q_catalog_sql",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_catalog_sql",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          destination = DestinationSpec(
            objectStore = Some(ObjectStoreSpec(path = freshLake("cat"),
              database = "graft_q", table = "q_catalog_sql",
              partitionBy = Seq("date"), writeMode = "overwrite",
              deleteBeforeWrite = true))))
        Pipeline.run(s, spec, BigCsv)
        // partition-pruned scan: date is the partition column, so only the
        // 2017-01-02 directory is read (8 of 6003 rows)
        s.sql("""SELECT symbol, max(close) AS max_close, min(open) AS min_open,
                |       sum(volume) AS sum_volume
                |FROM graft_q.q_catalog_sql
                |WHERE date = '2017-01-02'
                |GROUP BY symbol HAVING count(*) > 0
                |ORDER BY symbol LIMIT 50""".stripMargin)
      },
      Some(s"""SELECT symbol, max(TRY_CAST(close AS DOUBLE)) AS max_close,
              |       min(TRY_CAST(open AS DOUBLE)) AS min_open,
              |       CAST(sum(TRY_CAST(volume AS INTEGER)) AS BIGINT) AS sum_volume
              |FROM ${srcSql(BigCsv)}
              |WHERE date = '2017-01-02'
              |GROUP BY symbol HAVING count(*) > 0
              |ORDER BY symbol LIMIT 50""".stripMargin)),

    // ---- multi-file union via archive expansion (S8/S2 multi-file) --------
    // The zip expands once at definition time (driver-side pre-step); Spark
    // reads the expanded files as ONE multi-path scan, and the oracle reads
    // the very same expanded files with read_csv — DuckDB can't open zip
    // members, so sharing the expansion keeps both sides on identical bytes.
    QueryDef(
      "q_archive_union",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_archive_union",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          destination = DestinationSpec(objectStore = Some(
            ObjectStoreSpec(path = "/tmp/unused", database = "graft_q", table = "unused"))))
          .normalized.validated
        val df = FileSources.readCsv(s, spec, archivePaths)
        df.groupBy("date").agg(count(lit(1)).as("n"),
            countDistinct(col("symbol")).as("n_symbols"))
          .orderBy("date")
      },
      Some {
        val union = archivePaths
          .map(p => s"SELECT * FROM ${srcSql(p)}").mkString("\nUNION ALL\n")
        s"""SELECT date, COUNT(*) AS n, COUNT(DISTINCT symbol) AS n_symbols
           |FROM ($union)
           |GROUP BY date ORDER BY date""".stripMargin
      })
  )

  /** Expanded zip fixture — shared by the Spark query and its oracle. */
  private lazy val archivePaths: Seq[String] =
    graft.sources.Intake.resolve(s"$FixtureDir/stock_price.dataset.zip").paths

  /** The small stock CSV converted to a real xlsx (shared strings, sparse
    * cells for empty fields) — definition-time driver prep like
    * [[archivePaths]]; the oracle reads the ORIGINAL csv, so the comparison
    * proves the xlsx reader reproduces the csv contents exactly (S5).
    */
  private lazy val xlsxPath: String = {
    import scala.jdk.CollectionConverters._
    val dir = graft.Scratch.freshKeep("graft-xlsx")
    val out = dir.resolve("stock_price.tok.20170102.dataset.xlsx")
    val rows: Seq[Seq[String]] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(SmallCsv)).asScala
        .toSeq.filter(_.nonEmpty).map(_.split(",", -1).toSeq)
    val shared = rows.flatten.filter(_.nonEmpty).distinct
    val sidx = shared.zipWithIndex.toMap
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val z = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(out.toFile))
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="s1" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst>${shared.map(s => s"<si><t>${esc(s)}</t></si>").mkString}</sst>""")
    val sheetRows = rows.zipWithIndex.map { case (cells, r) =>
      val cs = cells.zipWithIndex.collect {
        case (v, c) if v.nonEmpty => // empty csv field → sparse (absent) cell
          s"""<c r="${('A' + c).toChar}${r + 1}" t="s"><v>${sidx(v)}</v></c>"""
      }.mkString
      s"""<row r="${r + 1}">$cs</row>"""
    }.mkString("\n")
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>\n$sheetRows\n</sheetData></worksheet>""")
    z.close()
    out.toString
  }

  /** Manifest bulk-load fixture (S9): two day files + the
    * `<dataset>.metadata.json` manifest, resolved through the real intake
    * convention — the manifest is metadata, not data, and must be excluded
    * from the load set. Shared with the oracle like [[archivePaths]].
    */
  private lazy val manifestPaths: Seq[String] = {
    val dir = graft.Scratch.freshOracle("graft-manifest")
    java.nio.file.Files.copy(java.nio.file.Paths.get(BigCsv), dir.resolve("part1.csv"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$FixtureDir/stock_price.20170103.dataset.csv"),
      dir.resolve("part2.csv"))
    val man = dir.resolve("stock_price.metadata.json")
    java.nio.file.Files.writeString(man,
      s"""{"dataset": "stock_price", "dataFilePath": "$dir", "bulkUpload": true}""")
    graft.sources.Intake.resolve(man.toString).paths
  }

  /** Oracle-checked infra operators that were spec-only in round 2: xlsx
    * read, JDBC incremental pull, MSSQL-style CDC pairing, DQ failure
    * policy, manifest bulk load.
    */
  val infraDefs: Seq[QueryDef] = Seq(

    // ---- config-driven split through the full pipeline --------------------
    // TransformSpec.split → bucket/split columns appended post-cast and the
    // table PARTITIONED BY split; the oracle replays the md5-bucket split
    // function over the same CSV (the split is a pure function of the id —
    // that is the property that makes it oracle-able at all).
    QueryDef(
      "q_pipeline_split",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_pipeline_split",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          transformation = Some(TransformSpec(
            deduplicate = true,
            split = Some(SplitSpec(idField = "symbol")))),
          destination = DestinationSpec(
            schema = stockFields,
            objectStore = Some(ObjectStoreSpec(path = freshLake("psplit"),
              database = "graft_q", table = "q_pipeline_split",
              partitionBy = Seq("split"), writeMode = "overwrite",
              deleteBeforeWrite = true))))
        val res = Pipeline.run(s, spec, BigCsv)
        s.table(res.table.get)
          .select(col("symbol"), col("date"), col("volume"),
            col("bucket"), col("split"))
          .orderBy("symbol", "date", "volume")
      },
      Some(s"""WITH dedup AS (SELECT DISTINCT * FROM ${srcSql(BigCsv)})
              |SELECT symbol, date, TRY_CAST(volume AS INTEGER) AS volume,
              |  CAST(('0x' || substring(md5(CAST(symbol AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
              |    AS bucket,
              |  CASE WHEN CAST(('0x' || substring(md5(CAST(symbol AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 900 THEN 'train'
              |       WHEN CAST(('0x' || substring(md5(CAST(symbol AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 950 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM dedup
              |ORDER BY symbol, date, volume""".stripMargin)),

    // ---- K7: CSV text-sink roundtrip (exercises F11 escaping end-to-end:
    // the constructed note column carries commas and quotes through the
    // writer's quoting and back) ------------------------------------------
    QueryDef(
      "q_text_sink_roundtrip",
      (s, d) => {
        val dir = freshLake("textsink")
        val nation = graft.Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
            concat(col("n_name"), lit(", \"quoted\" note")).as("note"))
        graft.sinks.TextSink.writeCsv(nation, dir, header = true)
        s.read
          .option("header", true)
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT, note STRING")
          .csv(dir)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey,
             |       n_name || ', "quoted" note' AS note
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- S4: semi-structured read — jsonl through the _json column path --
    // documents → to_json lines → TextSink.writeText → readSemiStructured
    // (`everyRowContainsObject`) → field extraction; the oracle reads the
    // source table directly, so the whole write/read/extract loop must be
    // lossless.
    QueryDef(
      "q_json_column_read",
      (s, d) => {
        val dir = freshLake("jsonl")
        val docs = graft.Tables.load(s, d, "documents")
          .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as("_json"))
        graft.sinks.TextSink.writeText(docs, "_json", dir)
        FileSources.readSemiStructured(s, dir, "_json",
          SemiStructuredSpec(everyRowContainsObject = true))
          .select(
            get_json_object(col("_json"), "$.doc_id").cast("long").as("doc_id"),
            get_json_object(col("_json"), "$.lang").as("lang"),
            get_json_object(col("_json"), "$.n_chars").cast("long").as("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- S5: xlsx read equals the csv it was generated from ---------------
    QueryDef(
      "q_xlsx_read",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_xlsx_read",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(xlsx = Some(XlsxSpec(worksheet = 0))))),
          destination = DestinationSpec(objectStore = Some(
            ObjectStoreSpec(path = "/tmp/unused", database = "graft_q", table = "unused"))))
          .normalized.validated
        FileSources.read(s, spec, xlsxPath)
          .orderBy("symbol")
      },
      Some(s"""SELECT * FROM ${srcSql(SmallCsv)} ORDER BY symbol""")),

    // ---- S7: watermarked JDBC pull — two pulls, no overlap, union = table --
    QueryDef(
      "q_jdbc_pull",
      (s, d) => {
        val dbDir = freshLake("pulldb")
        val url = s"jdbc:derby:$dbDir/db;create=true"
        // unquoted DDL so the unquoted watermark predicate (`WHERE updated >
        // ...`, reference DataPuller shape) resolves against Derby's
        // case-canonical column; bounded fixture prep via JDBC batch, the
        // pull itself is the path under test
        val c = java.sql.DriverManager.getConnection(url)
        c.createStatement().executeUpdate(
          "CREATE TABLE src_pull (c_custkey BIGINT, c_name VARCHAR(64), " +
            "c_acctbal DOUBLE, updated TIMESTAMP)")
        val ps = c.prepareStatement("INSERT INTO src_pull VALUES (?, ?, ?, ?)")
        def land(lo: Long, hi: Long, day: String): Unit = {
          graft.Tables.load(s, d, "customer")
            .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
            .select(col("c_custkey").cast("long"), col("c_name"),
              col("c_acctbal").cast("double"))
            .collect().foreach { r =>
              ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
              ps.setDouble(3, r.getDouble(2))
              ps.setTimestamp(4, java.sql.Timestamp.valueOf(s"$day 10:00:00"))
              ps.addBatch(): Unit
            }
          ps.executeBatch(): Unit
        }
        // land the day-1 rows, pull; land day-2 rows, pull again — the
        // second pull's pushdown predicate must exclude everything pull 1 saw
        land(-1, 300, "2026-01-01") // keys start at 0 in the synthetic table
        val store = new graft.cdc.WatermarkStore(
          java.nio.file.Paths.get(dbDir, "wm.properties"))
        val pullSpec = JdbcSourceSpec(url = url, table = "src_pull",
          timestampFieldName = "updated")
        val p1 = graft.cdc.JdbcPull.pull(s, "q_jdbc_pull", pullSpec, store)
        p1.commit(store, "q_jdbc_pull")
        land(300, 600, "2026-01-02")
        val p2 = graft.cdc.JdbcPull.pull(s, "q_jdbc_pull", pullSpec, store)
        p2.commit(store, "q_jdbc_pull")
        c.close()
        p1.df.withColumn("pull", lit(1))
          .unionByName(p2.df.withColumn("pull", lit(2)))
          .select(col("c_custkey").cast("bigint").as("c_custkey"), col("c_name"),
            col("c_acctbal"), col("pull"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal,
             |       CASE WHEN c_custkey <= 300 THEN 1 ELSE 2 END AS pull
             |FROM customer WHERE c_custkey <= 600
             |ORDER BY c_custkey""".stripMargin)),

    // ---- S12/J4: MSSQL-style CDC poll — op-3/4 pairing on seqval -----------
    // A change table is synthesized from `customer` (inserts for k%10=1,
    // update before/after pairs for k%10=3, deletes for k%10=7), polled
    // through the real JDBC path, and the normalized messages compared to a
    // relational replay.
    QueryDef(
      "q_mssql_cdc",
      (s, d) => {
        val dbDir = freshLake("mscdc")
        val url = s"jdbc:derby:$dbDir/db;create=true"
        val c = java.sql.DriverManager.getConnection(url)
        c.createStatement().executeUpdate(
          """CREATE TABLE cdc_cust ("__$operation" INT, "__$seqval" BIGINT,
            |c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin.replace("\n", " "))
        val ps = c.prepareStatement("INSERT INTO cdc_cust VALUES (?, ?, ?, ?)")
        def add(op: Int, seq: Long, k: Long, bal: Double): Unit = {
          ps.setInt(1, op); ps.setLong(2, seq); ps.setLong(3, k); ps.setDouble(4, bal)
          ps.addBatch(): Unit
        }
        // bounded fixture slice (k <= 200 at every SF) — test-scale prep,
        // the poll itself is the distributed path under test
        graft.Tables.load(s, d, "customer")
          .filter(col("c_custkey") <= 200)
          .select(col("c_custkey").cast("long"), col("c_acctbal").cast("double"))
          .collect().foreach { r =>
            val (k, b) = (r.getLong(0), r.getDouble(1))
            k % 10 match {
              case 1 => add(2, k, k, b)                              // insert
              case 3 => add(3, 1000 + k, k, b); add(4, 1000 + k, k, b + 50.0) // update pair
              case 7 => add(1, 2000 + k, k, b)                       // delete
              case _ =>
            }
          }
        ps.executeBatch(); c.close()
        val store = new graft.cdc.WatermarkStore(
          java.nio.file.Paths.get(dbDir, "wm.properties"))
        val poll = graft.cdc.MsSqlStyleCdc.poll(s, "q_mssql_cdc",
          JdbcSourceSpec(url = url, table = "cdc_cust"), store, "tpch", "dbo", "customer")
        poll.messages.toDF()
          .select(col("seq"),
            when(col("isInsert"), "I").when(col("isUpdate"), "U").otherwise("D").as("kind"),
            coalesce(element_at(col("after"), "c_custkey"),
              element_at(col("before"), "c_custkey")).cast("bigint").as("c_custkey"),
            element_at(col("before"), "c_acctbal").cast("double").as("bal_before"),
            element_at(col("after"), "c_acctbal").cast("double").as("bal_after"))
          .orderBy("seq")
      },
      Some("""WITH src AS (SELECT c_custkey AS k, c_acctbal AS b FROM customer
             |             WHERE c_custkey <= 200)
             |SELECT seq, kind, c_custkey, bal_before, bal_after FROM (
             |  SELECT k AS seq, 'I' AS kind, k AS c_custkey,
             |         CAST(NULL AS DOUBLE) AS bal_before, b AS bal_after
             |  FROM src WHERE k % 10 = 1
             |  UNION ALL
             |  SELECT 1000 + k, 'U', k, b, b + 50.0 FROM src WHERE k % 10 = 3
             |  UNION ALL
             |  SELECT 2000 + k, 'D', k, b, CAST(NULL AS DOUBLE)
             |  FROM src WHERE k % 10 = 7) x
             |ORDER BY seq""".stripMargin)),

    // ---- J4 edge matrix: seqval pairing shapes the reference's findAfter
    // walks (MsSqlCDCRunnerSlave.scala:148-159) — a before WITHOUT its
    // after half, an after WITHOUT its before, halves INTERLEAVED with
    // other events in arrival order, and a second update of the same key
    // at a later seqval. Hand-built change rows, polled through the real
    // JDBC path, against a pure-VALUES oracle.
    QueryDef(
      "q_mssql_pairing",
      (s, _) => {
        val dbDir = freshLake("mspair")
        val url = s"jdbc:derby:$dbDir/db;create=true"
        val c = java.sql.DriverManager.getConnection(url)
        c.createStatement().executeUpdate(
          """CREATE TABLE cdc_pair ("__$operation" INT, "__$seqval" BIGINT,
            |c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin.replace("\n", " "))
        val ps = c.prepareStatement("INSERT INTO cdc_pair VALUES (?, ?, ?, ?)")
        def add(op: Int, seq: Long, k: Long, bal: Double): Unit = {
          ps.setInt(1, op); ps.setLong(2, seq); ps.setLong(3, k); ps.setDouble(4, bal)
          ps.addBatch(): Unit
        }
        // deliberately interleaved arrival order: the 106-pair's before
        // lands FIRST, its after LAST, with unrelated events between the
        // 103-pair's halves — pairing is by seqval, never adjacency
        add(3, 106, 3, 80.0) // before of the SECOND update of k=3
        add(2, 101, 1, 10.0) // insert
        add(4, 103, 3, 80.0) // after of the first update of k=3
        add(1, 102, 2, 20.0) // delete
        add(3, 103, 3, 30.0) // before of the first update of k=3
        add(4, 106, 3, 90.0) // after of the second update of k=3
        add(3, 104, 4, 40.0) // before WITHOUT an after (crashed capture)
        add(4, 105, 5, 55.0) // after WITHOUT a before
        ps.executeBatch(); c.close()
        val store = new graft.cdc.WatermarkStore(
          java.nio.file.Paths.get(dbDir, "wm.properties"))
        val poll = graft.cdc.MsSqlStyleCdc.poll(s, "q_mssql_pairing",
          JdbcSourceSpec(url = url, table = "cdc_pair"), store, "tpch", "dbo", "pair")
        poll.messages.toDF()
          .select(col("seq"),
            when(col("isInsert"), "I").when(col("isUpdate"), "U").otherwise("D").as("kind"),
            coalesce(element_at(col("after"), "c_custkey"),
              element_at(col("before"), "c_custkey")).cast("bigint").as("c_custkey"),
            element_at(col("before"), "c_acctbal").cast("double").as("bal_before"),
            element_at(col("after"), "c_acctbal").cast("double").as("bal_after"))
          .orderBy("seq")
      },
      Some("""SELECT CAST(seq AS BIGINT) AS seq, kind,
             |       CAST(c_custkey AS BIGINT) AS c_custkey,
             |       CAST(bal_before AS DOUBLE) AS bal_before,
             |       CAST(bal_after AS DOUBLE) AS bal_after
             |FROM (VALUES
             |  (101, 'I', 1, NULL, 10.0),
             |  (102, 'D', 2, 20.0, NULL),
             |  (103, 'U', 3, 30.0, 80.0),
             |  (104, 'U', 4, 40.0, NULL),
             |  (105, 'U', 5, NULL, 55.0),
             |  (106, 'U', 3, 80.0, 90.0)
             |) AS t(seq, kind, c_custkey, bal_before, bal_after)
             |ORDER BY seq""".stripMargin)),

    // ---- §2.10: DQ failure policy (>0 errors abort, >100 early-abort) ------
    // Three configurations over the same file; the engine's observed outcome
    // per config must equal the oracle's count-derived policy decision.
    QueryDef(
      "q_dq_policy",
      (s, _) => {
        def outcomeOf(rule: ColumnRuleSpec): (String, Option[Long]) = {
          val spec = PipelineSpec(
            name = "q_dq_policy",
            source = SourceSpec(schema = stockFields,
              file = Some(FileSpec(csv = Some(CsvSpec())))),
            dataQuality = Some(DataQualitySpec(columnRules = Seq(rule))),
            destination = DestinationSpec(objectStore = Some(
              ObjectStoreSpec(path = "/tmp/unused", database = "graft_q", table = "unused"))))
            .normalized.validated
          val raw = FileSources.read(s, spec, BigCsv)
          try {
            val (_, warnings) = DataQualityRunner.enforce(
              DataQualityRunner.columnRuleViolations(raw, spec))
            ("ok", Some(warnings))
          } catch {
            case e: DataQualityRunner.DataQualityException =>
              (if (e.getMessage.contains("more than 100")) "abort_early" else "abort", None)
          }
        }
        val twoDp = """(?:0|[1-9][0-9]*)\.[0-9]{2}"""
        val rows = Seq(
          ("warn_only", outcomeOf(ColumnRuleSpec("open", "regex", twoDp,
            onFailureIsError = false))),
          ("error", outcomeOf(ColumnRuleSpec("volume", "regex", "[0-9]{1,6}",
            onFailureIsError = true))),
          ("error_gt100", outcomeOf(ColumnRuleSpec("symbol", "regex", "[0-9]{50}",
            onFailureIsError = true))))
        import s.implicits._
        rows.map { case (cfg, (out, n)) =>
          (cfg, out, n.map(Long.box).orNull.asInstanceOf[java.lang.Long])
        }.toDF("config", "outcome", "n_warnings")
          .select(col("config"), col("outcome"), col("n_warnings").cast("bigint"))
          .orderBy("config")
      },
      Some {
        val twoDp = """(?:0|[1-9][0-9]*)\.[0-9]{2}"""
        s"""WITH src AS (SELECT * FROM ${srcSql(BigCsv)}),
           |counts AS (SELECT
           |  SUM(CASE WHEN NOT regexp_full_match(COALESCE(open, ''), '$twoDp') THEN 1 ELSE 0 END) AS warn_open,
           |  SUM(CASE WHEN NOT regexp_full_match(COALESCE(volume, ''), '[0-9]{1,6}') THEN 1 ELSE 0 END) AS err_vol,
           |  SUM(CASE WHEN NOT regexp_full_match(COALESCE(symbol, ''), '[0-9]{50}') THEN 1 ELSE 0 END) AS err_sym
           |  FROM src)
           |SELECT config, outcome, n_warnings FROM (
           |  SELECT 'warn_only' AS config, 'ok' AS outcome,
           |         CAST(warn_open AS BIGINT) AS n_warnings FROM counts
           |  UNION ALL
           |  SELECT 'error',
           |         CASE WHEN err_vol > 100 THEN 'abort_early'
           |              WHEN err_vol > 0 THEN 'abort' ELSE 'ok' END,
           |         CAST(NULL AS BIGINT) FROM counts
           |  UNION ALL
           |  SELECT 'error_gt100',
           |         CASE WHEN err_sym > 100 THEN 'abort_early'
           |              WHEN err_sym > 0 THEN 'abort' ELSE 'ok' END,
           |         CAST(NULL AS BIGINT) FROM counts) x
           |ORDER BY config""".stripMargin
      }),

    // ---- S9: manifest bulk load — manifest excluded, parts unioned ---------
    QueryDef(
      "q_bulk_manifest",
      (s, _) => {
        val spec = PipelineSpec(
          name = "q_bulk_manifest",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          destination = DestinationSpec(objectStore = Some(
            ObjectStoreSpec(path = "/tmp/unused", database = "graft_q", table = "unused"))))
          .normalized.validated
        FileSources.readCsv(s, spec, manifestPaths)
          .groupBy("date").agg(count(lit(1)).as("n"),
            countDistinct(col("symbol")).as("n_symbols"))
          .orderBy("date")
      },
      Some {
        val union = manifestPaths
          .map(p => s"SELECT * FROM ${srcSql(p)}").mkString("\nUNION ALL\n")
        s"""SELECT date, COUNT(*) AS n, COUNT(DISTINCT symbol) AS n_symbols
           |FROM ($union)
           |GROUP BY date ORDER BY date""".stripMargin
      })
  )

  /** §2.9: CDC micro-batch application, oracle-checked. A deterministic
    * change batch derived from `customer` (updates+inserts for keys
    * 800<k<=1200, deletes for k<=800 and k%97=0) applies to a customer
    * target via [[graft.cdc.CdcApply.applyBatch]]; the oracle replays it as
    * FULL JOIN + anti-filter.
    */
  val cdcDefs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_cdc_apply",
      (s, d) => {
        import s.implicits._
        val cust = graft.Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val target = cust.filter(col("c_custkey") <= 1000)
        val updates = cust
          .filter(col("c_custkey") > 800 && col("c_custkey") <= 1200)
          .select(col("c_custkey").cast("string").as("k"), col("c_name").as("n"),
            (col("c_acctbal") + 50.0).cast("string").as("b"))
          .as[(String, String, String)]
          .map { case (k, n, b) =>
            graft.cdc.CDCMessage("tpch", "public", "customer",
              isInsert = k.toLong > 1000, isUpdate = k.toLong <= 1000, isDelete = false,
              before = Map.empty,
              after = Map("c_custkey" -> k, "c_name" -> n, "c_acctbal" -> b),
              seq = 2L)
          }
        val deletes = cust
          .filter(col("c_custkey") <= 800 && col("c_custkey") % 97 === 0)
          .select(col("c_custkey").cast("string").as("k"))
          .as[String]
          .map(k => graft.cdc.CDCMessage("tpch", "public", "customer",
            isInsert = false, isUpdate = false, isDelete = true,
            before = Map("c_custkey" -> k), after = Map.empty, seq = 1L))
        val batch = updates.unionByName(deletes)
        graft.cdc.CdcApply.applyBatch(target, batch, Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer
             |           WHERE c_custkey <= 1000),
             |u AS (SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal
             |      FROM customer WHERE c_custkey > 800 AND c_custkey <= 1200),
             |m AS (SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
             |             COALESCE(u.c_name, t.c_name) AS c_name,
             |             COALESCE(u.c_acctbal, t.c_acctbal) AS c_acctbal
             |      FROM t FULL JOIN u ON t.c_custkey = u.c_custkey)
             |SELECT c_custkey, c_name, c_acctbal FROM m
             |WHERE NOT (c_custkey <= 800 AND c_custkey % 97 = 0)
             |ORDER BY c_custkey""".stripMargin))
  )
}
