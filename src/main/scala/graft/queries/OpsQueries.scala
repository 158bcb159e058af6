package graft.queries

import graft.Tables
import graft.model._
import graft.runtime.{EventBus, Watcher}
import graft.cdc.{CDCMessage, CdcPublisher}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Oracle-checked queries over the OPERATIONAL surfaces that were spec-only
  * through round 4 — each is a small deterministic function whose expected
  * output a DuckDB literal table (or an independent implementation) can
  * state exactly:
  *
  *   - q_guid_v5: RFC 4122 v5 UUIDs checked against values generated by an
  *     INDEPENDENT implementation (Python stdlib `uuid.uuid5`, URL
  *     namespace) — a true cross-implementation check, not a transcript;
  *   - q_cdc_chunks: the CDC publisher's ≤maxChunkBytes chunk accounting
  *     replayed in closed form (the oracle spells the JSON wire format and
  *     the flush arithmetic relationally);
  *   - q_watcher_ledger: the watcher's ledger state machine (success
  *     terminal, retry budget, dead-letter) driven through a real pipeline
  *     and compared to the expected final ledger as a literal table.
  */
object OpsQueries {

  private val stockFields = Seq("symbol" -> "string", "date" -> "string",
    "open" -> "double", "high" -> "double", "low" -> "double",
    "close" -> "double", "volume" -> "int", "adj_close" -> "double")
    .map { case (n, t) => FieldSpec(n, t) }

  private val SmallCsv =
    "/root/repo/fixtures/stock_price.20170102.small.dataset.csv"

  val defs: Seq[QueryDef] = Seq(

    // ---- F4: GUID v5 (RFC 4122 §4.3, SHA-1, URL namespace) ----------------
    // The oracle values were generated by Python's uuid.uuid5 — an
    // independent RFC 4122 implementation — over the same nation names, so
    // this hash-checks the byte layout (version/variant bits, network
    // order) of functions.GuidV5, not just its self-consistency.
    QueryDef(
      "q_guid_v5",
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "nation").select("n_name").as[String]
          .map(n => (n, graft.functions.GuidV5.nameUUID(n).toString))
          .toDF("name", "guid")
          .orderBy("name")
      },
      Some("""SELECT n.n_name AS name, v.guid
             |FROM nation n
             |JOIN (VALUES
             |  ('NATION_0', '848756ea-70d9-5d7e-b85a-5386656141d4'),
             |  ('NATION_1', 'ff922eda-a0f9-5195-b722-8f88f85e7f74'),
             |  ('NATION_10', '056b049f-5cbd-581a-96e2-ac0dc6db5fda'),
             |  ('NATION_11', '82eaff1b-07b0-5233-81f1-c5130aeaacb4'),
             |  ('NATION_12', '0b5e8adf-4927-5946-9dca-74509fe1ac3b'),
             |  ('NATION_13', 'b53d09b8-8835-5d96-92eb-c0ed0ac3323d'),
             |  ('NATION_14', 'c59cf5d7-f18a-563a-8140-82af0718ce44'),
             |  ('NATION_15', 'aa165b1d-0892-52c6-a153-40d1902e9e76'),
             |  ('NATION_16', 'e2057c7e-8fb4-5ea2-95dc-a23e52366883'),
             |  ('NATION_17', '5f11420c-18e0-5a39-80c0-3459912311e9'),
             |  ('NATION_18', '6efa7ba9-9d6a-5ee8-b2db-90d5947644ce'),
             |  ('NATION_19', 'be1e3057-51f3-53d3-b8f2-14e6a42b4960'),
             |  ('NATION_2', '67e488de-cb4a-5266-824d-34aefc623596'),
             |  ('NATION_20', '63609414-8d34-5d4f-a6a3-564344197d46'),
             |  ('NATION_21', 'fcaeda0e-6cf3-5adf-8a11-8cfd1d3ba98e'),
             |  ('NATION_22', '5c8baeea-9143-5318-a55f-21f43c82dd39'),
             |  ('NATION_23', 'b098e821-054d-5eae-9fe8-c41eff8224f3'),
             |  ('NATION_24', '35185a58-62f1-5be7-bc51-e995d3047392'),
             |  ('NATION_3', '26e6a745-94ba-5d1e-b526-386ac533b054'),
             |  ('NATION_4', 'fb48d49d-72d2-51d1-9508-9569d9781cb8'),
             |  ('NATION_5', '957ad6ba-94b9-5ba3-95e7-466f77bd610a'),
             |  ('NATION_6', 'e8c6e226-4391-57c3-9461-bc3e945206bc'),
             |  ('NATION_7', 'b6dbd70c-1bef-552c-8d34-08ac8869fc58'),
             |  ('NATION_8', '90bb3638-cf54-5fd6-b74c-c535b2d7dbfc'),
             |  ('NATION_9', '93b95255-cc98-5b5a-b68e-8235bd53bfc0')
             |) AS v(name, guid) ON v.name = n.n_name
             |ORDER BY name""".stripMargin)),

    // ---- K10: CDC publisher chunk accounting ------------------------------
    // Per nation: n = 5 + k%7 equal-size messages (pad = 100+k bytes;
    // nation 0's pad = 5000 makes every message OVERSIZED vs the 4096 cap,
    // exercising the flush-alone branch). The real publisher runs against
    // the real bus; the output is derived from the PUBLISHED notifications
    // only (chunk count, payload bytes, messages counted by their "seq"
    // keys). The oracle spells the JSON wire format and replays the flush
    // arithmetic: a chunk holds M = floor((cap-1)/(L+1)) messages (>=1),
    // chunks = ceil(n/M), total payload = n*(L+1) + chunks.
    QueryDef(
      "q_cdc_chunks",
      (s, d) => {
        val cap = 4096
        val nations = Tables.load(s, d, "nation")
          .select("n_nationkey", "n_name").collect() // 25 rows, fixed
        val bus = new EventBus()
        val pub = new CdcPublisher(bus, maxChunkBytes = cap)
        val msgs = nations.toSeq.flatMap { r =>
          val k = r.getInt(0); val name = r.getString(1)
          val pad = "x" * (if (k == 0) 5000 else 100 + k)
          (0 until 5 + k % 7).map(i => CDCMessage("cdcdb", "s1", name,
            isInsert = true, isUpdate = false, isDelete = false,
            before = Map.empty, after = Map("pad" -> pad), seq = 100000L + i))
        }
        pub.publish(msgs)
        val rows = bus.history.groupBy(_.table).toSeq.map { case (t, ns) =>
          val payloads = ns.map(_.attributes("payload"))
          (t,
            payloads.map("\"seq\":".r.findAllIn(_).size.toLong).sum,
            ns.size.toLong,
            payloads.map(_.length.toLong).sum)
        }
        import s.implicits._
        rows.toDF("name", "n_msgs", "n_chunks", "payload_bytes")
          .orderBy("name")
      },
      Some("""WITH m AS (
             |  SELECT n_name AS name,
             |    CAST(5 + n_nationkey % 7 AS BIGINT) AS n,
             |    length('{"database": "cdcdb", "schema": "s1", "table": "'
             |      || n_name ||
             |      '", "isInsert": true, "isUpdate": false, "isDelete": false, "before": {}, "after": {"pad": "'
             |      || repeat('x', CASE WHEN n_nationkey = 0 THEN 5000
             |                          ELSE 100 + n_nationkey END) ||
             |      '"}, "seq": 100000}') AS len
             |  FROM nation),
             |acc AS (
             |  SELECT name, n, len,
             |    GREATEST((4096 - 1) // (len + 1), 1) AS per_chunk
             |  FROM m)
             |SELECT name, n AS n_msgs,
             |  CAST((n + per_chunk - 1) // per_chunk AS BIGINT) AS n_chunks,
             |  CAST(n * (len + 1) + (n + per_chunk - 1) // per_chunk AS BIGINT)
             |    AS payload_bytes
             |FROM acc ORDER BY name""".stripMargin)),

    // ---- K9: the notification bus's attribute-filter POLICY matrix --------
    // SNS filter-policy semantics (reference ObjectStoreLoader.scala:211-235):
    // a subscriber receives a notification iff EVERY filter key is present
    // in the attribute view (custom attributes + dataset/destination/
    // database/table) with an equal value; the empty filter receives
    // everything; a key absent from the view never matches. The REAL bus
    // runs a six-subscriber matrix over notifications derived from
    // `nation`; the oracle states the delivery set relationally.
    QueryDef(
      "q_eventbus_filters",
      (s, d) => {
        val nations = Tables.load(s, d, "nation")
          .select("n_nationkey", "n_name", "n_regionkey").collect() // 25 rows
        val bus = new EventBus()
        val delivered = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val subs: Seq[(String, Map[String, String])] = Seq(
          "all" -> Map.empty, // empty filter = receive everything
          "dest_os" -> Map("destination" -> "objectStore"), // built-in attr
          "region1" -> Map("region" -> "r1"), // custom attr
          "region1_tier0" -> Map("region" -> "r1", "tier" -> "t0"), // AND
          "missing_key" -> Map("nope" -> "x"), // absent key never matches
          "one_table" -> Map("table" -> "CANADA")) // exact built-in match
        subs.foreach { case (id, f) =>
          bus.subscribe(f)(n =>
            delivered.synchronized { delivered += ((id, n.table)): Unit })
        }
        nations.foreach { r =>
          val k = r.getInt(0); val name = r.getString(1); val reg = r.getInt(2)
          bus.publish(EventBus.Notification(
            dataset = name.toLowerCase, pipelineToken = s"tok$k",
            destination = if (k % 2 == 0) "objectStore" else "database",
            database = "graft", table = name, location = s"/lake/$name",
            attributes = Map("region" -> s"r$reg", "tier" -> s"t${k % 3}")))
        }
        import s.implicits._
        delivered.toSeq.toDF("sub_id", "name").orderBy("sub_id", "name")
      },
      Some("""WITH n AS (SELECT n_nationkey AS k, n_name AS name,
             |                 n_regionkey AS reg FROM nation),
             |subs AS (
             |  SELECT 'all' AS sub_id, name FROM n
             |  UNION ALL SELECT 'dest_os', name FROM n WHERE k % 2 = 0
             |  UNION ALL SELECT 'region1', name FROM n WHERE reg = 1
             |  UNION ALL SELECT 'region1_tier0', name FROM n
             |    WHERE reg = 1 AND k % 3 = 0
             |  UNION ALL SELECT 'one_table', name FROM n WHERE name = 'CANADA')
             |SELECT sub_id, name FROM subs ORDER BY sub_id, name""".stripMargin)),

    // ---- P5/P9: whitespace trim + blank-line skip through the CSV reader --
    // Inline fixture with padded values and blank lines; the reader runs
    // with trimColumnWhitespace and the oracle states the trimmed,
    // blank-free rows literally.
    QueryDef(
      "q_csv_trim_skip",
      (s, _) => {
        val f = Files.createTempFile("graft-trimq-", ".csv")
        Files.writeString(f,
          "symbol,qty\n  AAA ,  10 \n\nBBB,20\n\n  CCC  ,30\n")
        val spec = PipelineSpec(
          name = "trimq",
          source = SourceSpec(
            schema = Seq(FieldSpec("symbol", "string"), FieldSpec("qty", "int")),
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          transformation = Some(TransformSpec(trimColumnWhitespace = true)),
          destination = DestinationSpec(
            schema = Seq(FieldSpec("symbol", "string"), FieldSpec("qty", "int"))))
          .normalized.validated
        graft.sources.FileSources.read(s, spec, f.toString)
          .select(col("symbol"), col("qty").cast("int").as("qty"))
          .orderBy("symbol")
      },
      Some("""SELECT * FROM (VALUES
             |  ('AAA', CAST(10 AS INTEGER)),
             |  ('BBB', CAST(20 AS INTEGER)),
             |  ('CCC', CAST(30 AS INTEGER))
             |) AS t(symbol, qty) ORDER BY symbol""".stripMargin)),

    // ---- S6/K9: unstructured passthrough + notification routing -----------
    // A fixed-name binary lands through the pipeline's unstructured branch:
    // GUID-v5 rename (cross-checked against Python uuid5 in the literal),
    // byte-exact copy, and a bus notification routed with the right
    // dataset/destination/table attributes.
    QueryDef(
      "q_unstructured_intake",
      (s, _) => {
        val landing = graft.Scratch.freshKeep("graft-unstq")
        val src = landing.resolve("img.tokQ.1.dataset.jpeg")
        Files.write(src, Array.tabulate[Byte](257)(i => i.toByte))
        val lake = graft.Scratch.freshKeep("graft-unstq-lake")
        val spec = PipelineSpec(
          name = "img",
          source = SourceSpec(
            schema = Seq(FieldSpec("_unused", "string")),
            file = Some(FileSpec(unstructured =
              Some(UnstructuredSpec(fileExtension = "jpeg"))))),
          destination = DestinationSpec(
            schema = Seq(FieldSpec("_unused", "string")),
            objectStore = Some(ObjectStoreSpec(path = lake.toString,
              database = "graft_ops", table = "media_in"))))
        graft.runtime.Pipeline.run(s, spec, src.toString)
        val landedDir = lake.resolve("graft_ops").resolve("media_in")
        import scala.jdk.CollectionConverters._
        val landed = Files.list(landedDir).iterator().asScala.toSeq
          .map(p => (p.getFileName.toString, Files.size(p)))
        val routed = graft.runtime.Pipeline.events.history
          .filter(n => n.dataset == "img" && n.table == "media_in")
          .map(n => (n.destination, n.database)).distinct
        import s.implicits._
        (for ((f, b) <- landed; (dest, db) <- routed)
          yield (f, b, dest, db))
          .toDF("file", "n_bytes", "destination", "database")
          .orderBy("file")
      },
      Some("""SELECT * FROM (VALUES
             |  ('56e00cb7-3f2f-54d5-a2f7-13839a947d46.jpeg', CAST(257 AS BIGINT),
             |   'objectStore', 'graft_ops')
             |) AS t(file, n_bytes, destination, database) ORDER BY file""".stripMargin)),

    // ---- K3: versioned-commit snapshot accounting -------------------------
    // Four commits over documents-derived images — full rewrite, full
    // rewrite, link-append, metadata-only evolution — and the snapshot
    // log's accounting for each: row counts from the MANIFEST (parquet
    // footer metadata written at commit) and the COW ECONOMICS (files
    // carried vs written, derived from manifest identity against the
    // previous snapshot — what `SHOW SNAPSHOTS` surfaces so an operator
    // can SEE whether DML actually COWs). File counts vary with
    // parallelism, so the oracle pins the SF-stable booleans: did the
    // commit carry prior files, and did it write zero bytes.
    QueryDef(
      "q_table_snapshots",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-snapq"),
          database = "graft_ops", table = "snap_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents").select("doc_id", "source")
        graft.sinks.ObjectStoreSink.replaceTable(s, docs, spec)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.filter(col("doc_id") % 2 === 0), spec)
        graft.sinks.ObjectStoreSink.appendVersion(s,
          docs.filter(col("doc_id") === 0), spec)
        s.sql("ALTER TABLE graft_ops.snap_t ADD COLUMNS (note STRING)")
          .collect()
        import s.implicits._
        graft.sinks.ObjectStoreSink.snapshots(spec)
          .map(sn => (sn.version, sn.rowCount, sn.live,
            sn.filesCarried > 0, sn.bytesWritten == 0L)).toSeq
          .toDF("version", "row_count", "live", "carried_prior_files",
            "metadata_only")
          .orderBy("version")
      },
      Some("""SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS row_count,
             |  FALSE AS live, FALSE AS carried_prior_files,
             |  FALSE AS metadata_only FROM documents
             |UNION ALL
             |SELECT 2, CAST(COUNT(*) AS BIGINT), FALSE, FALSE, FALSE
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT 3, CAST(COUNT(*) + 1 AS BIGINT), FALSE, TRUE, FALSE
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT 4, CAST(COUNT(*) + 1 AS BIGINT), TRUE, TRUE, TRUE
             |FROM documents WHERE doc_id % 2 = 0
             |ORDER BY version""".stripMargin)),

    // ---- S10: HTTP front door, end to end ---------------------------------
    // The full REST ingestion loop in-process: register spec → POST
    // /dataset/upload (body = the fixture csv) → POST /poll (watcher scan)
    // → the landed catalog table, hash-compared against DuckDB reading the
    // same fixture. Value-checks the upload naming/landing, the poll
    // trigger, and the pipeline cast — the whole S10 surface except the
    // socket itself (and that too: the bytes travel over a real loopback
    // HTTP connection).
    QueryDef(
      "q_http_ingest",
      (s, _) => {
        val landing = graft.Scratch.freshKeep("graft-httpq")
        val fd = new graft.runtime.HttpFrontDoor(
          s, landing, landing.resolve(".ledger")).start()
        try {
          val spec = PipelineSpec(
            name = "stock_price",
            source = SourceSpec(schema = stockFields,
              file = Some(FileSpec(csv = Some(CsvSpec())))),
            destination = DestinationSpec(
              schema = stockFields,
              objectStore = Some(ObjectStoreSpec(
                path = graft.Scratch.fresh("graft-httpq-lake"),
                database = "graft_ops", table = "http_t",
                writeMode = "overwrite", deleteBeforeWrite = true))))
          fd.register(spec.normalized.validated)
          val base = s"http://127.0.0.1:${fd.boundPort}"
          val client = java.net.http.HttpClient.newHttpClient()
          val up = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"$base/dataset/upload?dataset=stock_price&publishertoken=tokH"))
              .POST(java.net.http.HttpRequest.BodyPublishers
                .ofByteArray(Files.readAllBytes(Paths.get(SmallCsv))))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(up.statusCode() == 200, s"upload failed: ${up.body()}")
          val poll = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/poll"))
              .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(poll.statusCode() == 200, s"poll failed: ${poll.body()}")
          val cols = stockFields.map(f => col(f.name))
          s.table("graft_ops.http_t").select(cols: _*).orderBy(cols: _*)
        } finally fd.stop()
      },
      Some(s"""SELECT symbol, date,
              |  TRY_CAST(open AS DOUBLE) AS open, TRY_CAST(high AS DOUBLE) AS high,
              |  TRY_CAST(low AS DOUBLE) AS low, TRY_CAST(close AS DOUBLE) AS close,
              |  TRY_CAST(volume AS INTEGER) AS volume,
              |  TRY_CAST(adj_close AS DOUBLE) AS adj_close
              |FROM read_csv('$SmallCsv', header=true, columns={
              |  'symbol':'VARCHAR','date':'VARCHAR','open':'VARCHAR','high':'VARCHAR',
              |  'low':'VARCHAR','close':'VARCHAR','volume':'VARCHAR','adj_close':'VARCHAR'})
              |ORDER BY symbol, date, open, high, low, close, volume, adj_close""".stripMargin)),

    // ---- K2: catalog append resolves columns by NAME (partitions-last) ----
    // The second write arrives with a scrambled column order (partition
    // column first); the append path must land every value in the right
    // column via the catalog-name reorder — the INSERT...SELECT reorder
    // the reference builds by hand.
    QueryDef(
      "q_catalog_append_reorder",
      (s, _) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-reorderq"),
          database = "graft_ops", table = "reorder_t",
          partitionBy = Seq("region"), deleteBeforeWrite = true)
        import s.implicits._
        graft.sinks.ObjectStoreSink.write(s,
          Seq((1, "us", 1.5), (2, "eu", 2.5)).toDF("id", "region", "v"), spec)
        // append with columns in a DIFFERENT order: (region, v, id)
        graft.sinks.ObjectStoreSink.write(s,
          Seq(("ap", 3.5, 3), ("us", 4.5, 4)).toDF("region", "v", "id"),
          spec.copy(deleteBeforeWrite = false))
        s.table("graft_ops.reorder_t")
          .select(col("id").cast("int").as("id"), col("region"),
            col("v").cast("double").as("v"))
          .orderBy("id")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS INTEGER), 'us', CAST(1.5 AS DOUBLE)),
             |  (CAST(2 AS INTEGER), 'eu', CAST(2.5 AS DOUBLE)),
             |  (CAST(3 AS INTEGER), 'ap', CAST(3.5 AS DOUBLE)),
             |  (CAST(4 AS INTEGER), 'us', CAST(4.5 AS DOUBLE))
             |) AS t(id, region, v) ORDER BY id""".stripMargin)),

    // ---- F9/F10: type-string mapping + decimal compat ---------------------
    // SchemaMapper drives every cast in the engine; this states the mapped
    // semantics literally: prefix matching (tinyint/smallint→int,
    // varchar→string), decimal strict (DecimalType(p,s) rounds to scale)
    // vs decimalCompat (reference's lossy double), date/timestamp, and
    // try_cast's malformed→NULL contract.
    QueryDef(
      "q_type_mapping",
      (s, _) => {
        import graft.model.SchemaMapper
        // try_cast IS the engine's cast contract (applyDestinationSchema):
        // malformed input → typed NULL, never an ANSI abort
        def cast(t: String, raw: String, compat: Boolean = false) =
          expr(s"try_cast('$raw' AS ${SchemaMapper.toDataType(t, compat).sql})")
            .cast("string")
        s.range(1)
          .select(
            cast("tinyint", "7").as("tinyint_v"),
            cast("smallint", "8").as("smallint_v"),
            cast("bigint", "9007199254740993").as("bigint_v"),
            cast("decimal(10,2)", "3.14159").as("decimal_strict"),
            cast("decimal(10,2)", "3.14159", compat = true).as("decimal_compat"),
            cast("varchar(10)", "abc").as("varchar_v"),
            cast("date", "2017-01-02").as("date_v"),
            cast("int", "not-a-number").as("malformed_null"))
      },
      Some("""SELECT CAST(7 AS VARCHAR) AS tinyint_v,
             |  CAST(8 AS VARCHAR) AS smallint_v,
             |  '9007199254740993' AS bigint_v,
             |  '3.14' AS decimal_strict,
             |  '3.14159' AS decimal_compat,
             |  'abc' AS varchar_v,
             |  '2017-01-02' AS date_v,
             |  CAST(NULL AS VARCHAR) AS malformed_null""".stripMargin)),

    // ---- F5: filename/date intake conventions -----------------------------
    // Intake.resolve on literal names — dataset/token extraction per the
    // [dataset].[token].[...].dataset.[ext] convention, stated literally.
    QueryDef(
      "q_intake_conventions",
      (s, _) => {
        val names = Seq(
          "stock_price.tok1.20170102.dataset.csv",
          "orders.abc.1.dataset.json",
          "telemetry.dataset.csv") // 3 parts → empty token
        val rows = names.map { n =>
          val m = graft.sources.Intake.resolve(s"/landing/$n")
          (n, m.dataset, m.publisherToken, m.bulkUpload)
        }
        import s.implicits._
        rows.toDF("file", "dataset", "token", "bulk").orderBy("file")
      },
      Some("""SELECT * FROM (VALUES
             |  ('orders.abc.1.dataset.json', 'orders', 'abc', FALSE),
             |  ('stock_price.tok1.20170102.dataset.csv', 'stock_price', 'tok1', FALSE),
             |  ('telemetry.dataset.csv', 'telemetry', '', FALSE)
             |) AS t(file, dataset, token, bulk) ORDER BY file""".stripMargin)),

    // ---- F6/F7: JSON-Schema and XSD payload validation --------------------
    // Literal payloads through the real validators; the oracle states each
    // verdict. Covers: required-field miss, type mismatch, valid JSON,
    // XSD element-type violation, valid XML.
    QueryDef(
      "q_schema_validation",
      (s, _) => {
        val jsonSchema =
          """{"type": "object", "required": ["id", "qty"],
            | "properties": {"id": {"type": "string"}, "qty": {"type": "number"}}}""".stripMargin
        val xsd =
          """<?xml version="1.0"?>
            |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
            |  <xs:element name="row"><xs:complexType><xs:sequence>
            |    <xs:element name="qty" type="xs:integer"/>
            |  </xs:sequence></xs:complexType></xs:element>
            |</xs:schema>""".stripMargin
        def okJson(p: String) =
          try { graft.dq.SchemaValidation.validateJson(p, jsonSchema); true }
          catch { case _: Exception => false }
        def okXml(p: String) =
          try { graft.dq.SchemaValidation.validateXml(p, xsd); true }
          catch { case _: Exception => false }
        val rows = Seq(
          ("json_valid", okJson("""{"id": "a", "qty": 2}""")),
          ("json_missing_required", okJson("""{"id": "a"}""")),
          ("json_wrong_type", okJson("""{"id": "a", "qty": "two"}""")),
          ("xml_valid", okXml("<row><qty>3</qty></row>")),
          ("xml_bad_type", okXml("<row><qty>three</qty></row>")))
        import s.implicits._
        rows.toDF("case", "ok").orderBy("case")
      },
      Some("""SELECT * FROM (VALUES
             |  ('json_missing_required', FALSE),
             |  ('json_valid', TRUE),
             |  ('json_wrong_type', FALSE),
             |  ('xml_bad_type', FALSE),
             |  ('xml_valid', TRUE)
             |) AS t("case", ok) ORDER BY "case"""".stripMargin)),

    // ---- S1: watcher ledger state machine ---------------------------------
    // Three files land: two resolve to a registered dataset and process
    // once (success is terminal); one names an unregistered dataset and
    // fails, burning one retry per poll until the budget (2) dead-letters
    // it. Three polls run; the ledger on disk — the crash-recovery
    // contract — is compared against the expected final state.
    QueryDef(
      "q_watcher_ledger",
      (s, _) => {
        val landing = graft.Scratch.freshKeep("graft-watchq")
        val ledger = landing.resolve(".ledger")
        Files.copy(Paths.get(SmallCsv),
          landing.resolve("stock_price.tokA.20170102.dataset.csv"))
        Files.copy(Paths.get(SmallCsv),
          landing.resolve("stock_price.tokB.20170103.dataset.csv"))
        Files.writeString(landing.resolve("mystery.tokX.1.dataset.csv"), "a,b\n1,2\n")
        val spec = PipelineSpec(
          name = "stock_price",
          source = SourceSpec(schema = stockFields,
            file = Some(FileSpec(csv = Some(CsvSpec())))),
          destination = DestinationSpec(
            schema = stockFields,
            objectStore = Some(ObjectStoreSpec(
              path = graft.Scratch.fresh("graft-watchq-lake"),
              database = "graft_ops", table = "watcher_landing"))))
        val w = new Watcher(s, landing, Map("stock_price" -> spec), ledger,
          maxRetries = 2)
        w.poll(); w.poll(); w.poll()
        // the on-disk ledger is the contract: replay it to (file, state,
        // n_fails) exactly as a restarted watcher would
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(ledger).asScala.map(_.trim).filter(_.nonEmpty)
        val (fails, oks) = lines.partition(_.endsWith("\tfail"))
        val failCounts = fails.groupBy(_.stripSuffix("\tfail"))
          .map { case (k, v) => (k, v.size.toLong) }
        val rows = (oks.toSet.map((n: String) => (n, "done", 0L)) ++
          failCounts.map { case (n, c) =>
            (n, if (c >= 2) "dead" else "retrying", c) }).toSeq
        import s.implicits._
        rows.toDF("file", "state", "n_fails").orderBy("file")
      },
      Some("""SELECT * FROM (VALUES
             |  ('mystery.tokX.1.dataset.csv', 'dead', CAST(2 AS BIGINT)),
             |  ('stock_price.tokA.20170102.dataset.csv', 'done', CAST(0 AS BIGINT)),
             |  ('stock_price.tokB.20170103.dataset.csv', 'done', CAST(0 AS BIGINT))
             |) AS t(file, state, n_fails)
             |ORDER BY file""".stripMargin)),

    // ---- version-to-version drift report (DQ monitor over time travel) ----
    // Two committed versions of a table through the REAL sink protocol
    // (replaceTable → snapshot log → readVersion time-travel reads), then
    // dq.DriftReport compares their one-pass column profiles. The fixture
    // checks the detector DISCRIMINATES: v2 scales a price (mean shift
    // fires) and nulls a tax slice (null-fraction shift fires) while
    // l_quantity and the string column are untouched (must report FALSE).
    // Count shift is unit-covered in DriftReportSpec. The oracle replays
    // the profile arithmetic relationally from the same source
    // expressions, so the versioned write→read loop must be content-exact.
    QueryDef(
      "q_table_drift",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-driftq"),
          database = "graft_ops", table = "drift_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val base = Tables.load(s, d, "lineitem")
        val v1 = base.select("l_quantity", "l_extendedprice", "l_tax",
          "l_returnflag")
        val v2 = base
          .withColumn("l_extendedprice", col("l_extendedprice") * 1.1)
          .withColumn("l_tax",
            when(col("l_discount") > 0.05, lit(null)).otherwise(col("l_tax")))
          .select("l_quantity", "l_extendedprice", "l_tax", "l_returnflag")
        graft.sinks.ObjectStoreSink.replaceTable(s, v1, spec)
        graft.sinks.ObjectStoreSink.replaceTable(s, v2, spec)
        graft.dq.DriftReport.drift(
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1)),
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2)))
          .orderBy("column")
      },
      Some {
        def side(rel: String, c: String, numeric: Boolean): String =
          if (numeric)
            s"""SELECT '$c' AS col_, CAST(COUNT($c) AS BIGINT) AS n_,
               |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_,
               |  ROUND(CAST(SUM(CAST($c AS DECIMAL(28,4))) AS DOUBLE) / COUNT($c), 6) AS mean_
               |FROM $rel""".stripMargin
          else
            s"""SELECT '$c', CAST(COUNT($c) AS BIGINT),
               |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               |  NULL FROM $rel""".stripMargin
        def prof(rel: String): String = Seq(
          side(rel, "l_extendedprice", numeric = true),
          side(rel, "l_quantity", numeric = true),
          side(rel, "l_returnflag", numeric = false),
          side(rel, "l_tax", numeric = true)).mkString("\nUNION ALL\n")
        s"""WITH v1 AS (
           |  SELECT l_quantity, l_extendedprice, l_tax, l_returnflag FROM lineitem),
           |v2 AS (
           |  SELECT l_quantity, l_extendedprice * 1.1 AS l_extendedprice,
           |         CASE WHEN l_discount > 0.05 THEN NULL ELSE l_tax END AS l_tax,
           |         l_returnflag
           |  FROM lineitem),
           |po AS (${prof("v1")}),
           |pn AS (${prof("v2")}),
           |j AS (
           |  SELECT po.col_ AS "column", po.n_ AS n_old, pn.n_ AS n_new,
           |    ROUND(CAST(po.nn_ AS DOUBLE) / (po.n_ + po.nn_), 6) AS null_frac_old,
           |    ROUND(CAST(pn.nn_ AS DOUBLE) / (pn.n_ + pn.nn_), 6) AS null_frac_new,
           |    po.mean_ AS mean_old, pn.mean_ AS mean_new,
           |    ROUND(ABS(CAST(pn.n_ AS DOUBLE) - CAST(po.n_ AS DOUBLE)) /
           |          GREATEST(ABS(CAST(po.n_ AS DOUBLE)), 1e-9), 6) AS count_shift,
           |    CASE WHEN po.mean_ IS NULL OR pn.mean_ IS NULL THEN NULL
           |         ELSE ROUND(ABS(pn.mean_ - po.mean_) /
           |              GREATEST(ABS(po.mean_), 1e-9), 6) END AS mean_shift
           |  FROM po JOIN pn ON po.col_ = pn.col_)
           |SELECT "column", n_old, n_new, null_frac_old, null_frac_new,
           |  mean_old, mean_new, count_shift, mean_shift,
           |  (COALESCE(count_shift > 0.05, FALSE)
           |   OR COALESCE(ABS(COALESCE(null_frac_new, 0) - COALESCE(null_frac_old, 0)) > 0.05, FALSE)
           |   OR COALESCE(mean_shift > 0.05, FALSE)) AS drifted
           |FROM j ORDER BY "column"""".stripMargin
      }),

    // ---- row-level version diff (audit over time travel) ------------------
    // TableDiff is DriftReport's exact twin: drift says "the mean moved",
    // diff says "N rows changed and the change is confined to column X".
    // Two versions through the REAL commit protocol again; v2 exercises
    // every diff class at once — removed keys (%10=0), key migration
    // (%10=3: old key removed + new key added), an exact value change
    // (%10=1 price), and a value→NULL change (%10=2 flag — the null-safe
    // comparison path). The oracle replays the full-outer-join accounting
    // relationally, so added/removed/changed/unchanged and the per-column
    // attribution must all be exact.
    QueryDef(
      "q_table_diff",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-diffq"),
          database = "graft_ops", table = "diff_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val base = Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag")
        val m = col("l_orderkey") % 10
        val v2 = base
          .filter(m =!= 0)
          .withColumn("l_linenumber",
            when(m === 3, col("l_linenumber") + 100).otherwise(col("l_linenumber")))
          .withColumn("l_extendedprice",
            when(m === 1, col("l_extendedprice") + 1).otherwise(col("l_extendedprice")))
          .withColumn("l_returnflag",
            when(m === 2, lit(null).cast("string")).otherwise(col("l_returnflag")))
        graft.sinks.ObjectStoreSink.replaceTable(s, base, spec)
        graft.sinks.ObjectStoreSink.replaceTable(s, v2, spec)
        graft.operators.TableDiff.diff(
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1)),
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2)),
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH v1 AS (
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |         l_returnflag
             |  FROM lineitem),
             |v2 AS (
             |  SELECT l_orderkey,
             |    CASE WHEN l_orderkey % 10 = 3 THEN l_linenumber + 100
             |         ELSE l_linenumber END AS l_linenumber,
             |    l_quantity,
             |    CASE WHEN l_orderkey % 10 = 1 THEN l_extendedprice + 1
             |         ELSE l_extendedprice END AS l_extendedprice,
             |    CASE WHEN l_orderkey % 10 = 2 THEN NULL
             |         ELSE l_returnflag END AS l_returnflag
             |  FROM lineitem WHERE l_orderkey % 10 <> 0),
             |j AS (
             |  SELECT o.l_orderkey AS ko, n.l_orderkey AS kn,
             |    (o.l_orderkey IS NOT NULL AND n.l_orderkey IS NOT NULL) AS matched,
             |    (o.l_orderkey IS NOT NULL AND n.l_orderkey IS NOT NULL
             |      AND o.l_quantity IS DISTINCT FROM n.l_quantity) AS c_qty,
             |    (o.l_orderkey IS NOT NULL AND n.l_orderkey IS NOT NULL
             |      AND o.l_extendedprice IS DISTINCT FROM n.l_extendedprice) AS c_price,
             |    (o.l_orderkey IS NOT NULL AND n.l_orderkey IS NOT NULL
             |      AND o.l_returnflag IS DISTINCT FROM n.l_returnflag) AS c_flag
             |  FROM v1 o FULL OUTER JOIN v2 n
             |    ON o.l_orderkey = n.l_orderkey AND o.l_linenumber = n.l_linenumber)
             |SELECT
             |  CAST(SUM(CASE WHEN ko IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_added,
             |  CAST(SUM(CASE WHEN kn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_removed,
             |  CAST(SUM(CASE WHEN matched AND (c_qty OR c_price OR c_flag) THEN 1 ELSE 0 END) AS BIGINT) AS rows_changed,
             |  CAST(SUM(CASE WHEN matched AND NOT (c_qty OR c_price OR c_flag) THEN 1 ELSE 0 END) AS BIGINT) AS rows_unchanged,
             |  CAST(SUM(CASE WHEN c_qty THEN 1 ELSE 0 END) AS BIGINT) AS changed_l_quantity,
             |  CAST(SUM(CASE WHEN c_price THEN 1 ELSE 0 END) AS BIGINT) AS changed_l_extendedprice,
             |  CAST(SUM(CASE WHEN c_flag THEN 1 ELSE 0 END) AS BIGINT) AS changed_l_returnflag
             |FROM j""".stripMargin)),

    // ---- incremental aggregate maintenance (MV delta refresh) -------------
    // The rollup-freshness operator: 80% of lineitem is aggregated into a
    // versioned snapshot table, the remaining 20% arrives as an append-only
    // delta, and IncrementalAgg.advance folds it in by MERGING PARTIAL
    // STATES (count/sum by +, min/max by least/greatest) — the base table
    // is never rescanned. The oracle recomputes the aggregate over the
    // FULL table from scratch, so incremental-refresh-through-the-real-
    // commit-protocol must equal one-shot recomputation exactly (the
    // decimal-sum states make that equality bit-exact, not approximate).
    QueryDef(
      "q_incremental_agg",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvq"),
          database = "graft_ops", table = "mv_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val li = Tables.load(s, d, "lineitem")
        val aspec = graft.operators.IncrementalAgg.Spec(
          keys = Seq("l_returnflag", "l_linestatus"),
          sumCols = Seq("l_quantity", "l_extendedprice"),
          minCols = Seq("l_discount"), maxCols = Seq("l_tax"))
        val old = li.filter(col("l_orderkey") % 10 < 8)
        val delta = li.filter(col("l_orderkey") % 10 >= 8)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          graft.operators.IncrementalAgg.aggregate(old, aspec), spec)
        val snap = graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          graft.operators.IncrementalAgg.advance(snap, delta, aspec), spec)
        graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2))
          .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
            col("s_l_quantity").cast("double").as("sum_qty"),
            col("s_l_extendedprice").cast("double").as("sum_price"),
            col("mn_l_discount").as("min_disc"), col("mx_l_tax").as("max_tax"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(mvOracleSql)),

    // ---- STREAMING equivalence for the MV refresh -------------------------
    // The same rollup kept fresh by a micro-batch stream: lineitem staged
    // as multiple files, streamed one file per trigger, each batch folded
    // into the versioned snapshot by MvRefreshStream (IncrementalAgg
    // partial-state merge; the version log is the replay guard). The final
    // snapshot must hash-match the SAME full-recompute oracle as
    // q_incremental_agg — streaming refresh ≡ batch refresh ≡ one-shot.
    QueryDef(
      "q_mv_stream_equiv",
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        val staging = graft.Scratch.fresh("graft-mvstream-src")
        Tables.load(s, d, "lineitem")
          .select(cols.map(col): _*)
          .repartition(4).write.mode("overwrite").parquet(staging)
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvstream-lake"),
          database = "graft_ops", table = "mvs_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val aspec = graft.operators.IncrementalAgg.Spec(
          keys = Seq("l_returnflag", "l_linestatus"),
          sumCols = Seq("l_quantity", "l_extendedprice"),
          minCols = Seq("l_discount"), maxCols = Seq("l_tax"))
        val src = s.readStream
          .schema(s.read.parquet(staging).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staging)
        val q = graft.streaming.MvRefreshStream.start(s, src, spec, aspec,
          checkpoint = graft.Scratch.fresh("graft-mvstream") + "/ckpt",
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
        graft.sinks.ObjectStoreSink.readVersion(s, spec, None)
          .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
            col("s_l_quantity").cast("double").as("sum_qty"),
            col("s_l_extendedprice").cast("double").as("sum_price"),
            col("mn_l_discount").as("min_disc"), col("mx_l_tax").as("max_tax"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(mvOracleSql)),

    // ---- CMS column inside the incremental snapshot -----------------------
    // Heavy-hitter state that refreshes at delta cost: the snapshot keeps a
    // count-min counter matrix per source (IncrementalAgg.CmsCol) alongside
    // the row count, both folded forward by advance() — counts by +, the
    // matrix by elementwise + — through the real versioned-commit protocol.
    // 80% of documents build the snapshot, 20% arrive as the delta; the
    // oracle rebuilds the FULL corpus sketch relationally (the md5 slot
    // convention), so incremental ≡ one-shot must hold bit-for-bit on every
    // nonzero counter. At 100 TB the refresh shuffles |delta tokens| + one
    // fixed 32 KB matrix per source — never the corpus.
    QueryDef(
      "q_incremental_cms",
      (s, d) => {
        val (w, dep) = (1024, 4)
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvcms"),
          database = "graft_ops", table = "mvcms_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val ia = graft.operators.IncrementalAgg
        val toks = Tables.load(s, d, "documents")
          .select(col("source"), length(col("text")).as("tlen"),
            explode(split(trim(col("text")), "\\s+")).as("token"))
          .withColumn("slots",
            graft.functions.CmsSketch.slotsFor(col("token"), w, dep))
        val aspec = ia.Spec(keys = Seq("source"), sumCols = Nil,
          cmsCols = Seq(ia.CmsCol("slots", w, dep)))
        val old = toks.filter(col("tlen") % 5 < 4)
        val delta = toks.filter(col("tlen") % 5 >= 4)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.aggregate(old, aspec), spec)
        val snap = graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.advance(snap, delta, aspec), spec)
        graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2))
          .select(col("source"), col("cnt").as("cnt_tokens"),
            posexplode(col("cms_slots")).as(Seq("pos", "c")))
          .filter(col("c") > 0)
          .select(col("source"), col("cnt_tokens"),
            (col("pos") / w).cast("long").as("j"),
            (col("pos") % w).cast("long").as("slot"), col("c").as("cnt"))
          .orderBy("source", "j", "slot")
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS token
             |  FROM documents),
             |tot AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt_tokens
             |  FROM toks GROUP BY source),
             |occ AS (
             |  SELECT source, j,
             |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || '#' || token), 1, 15)) AS BIGINT) % 1024 AS slot
             |  FROM toks CROSS JOIN (VALUES (0),(1),(2),(3)) t(j))
             |SELECT o.source, tot.cnt_tokens, CAST(o.j AS BIGINT) AS j, o.slot,
             |       CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM occ o JOIN tot USING (source)
             |GROUP BY o.source, tot.cnt_tokens, o.j, o.slot
             |ORDER BY o.source, j, slot""".stripMargin)),

    // ---- KMV column inside the incremental snapshot ------------------------
    // Distinct-cardinality state at delta cost: the snapshot keeps the k
    // smallest distinct token hashes per source (IncrementalAgg.KmvCol);
    // advance() merges sketches as a bounded sorted-distinct union of
    // codegen'd builtins. The oracle recomputes the exact k-minimum set
    // over the FULL corpus relationally (deterministic md5-prefix hashes),
    // so the incrementally-maintained sketch must match hash-for-hash,
    // position-for-position. Shuffle at any SF: k longs per source.
    QueryDef(
      "q_incremental_kmv",
      (s, d) => {
        val k = 128
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvkmv"),
          database = "graft_ops", table = "mvkmv_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val ia = graft.operators.IncrementalAgg
        val toks = Tables.load(s, d, "documents")
          .select(col("source"), length(col("text")).as("tlen"),
            explode(split(trim(col("text")), "\\s+")).as("token"))
          .withColumn("h",
            conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
        val aspec = ia.Spec(keys = Seq("source"), sumCols = Nil,
          kmvCols = Seq(ia.KmvCol("h", k)))
        val old = toks.filter(col("tlen") % 5 < 4)
        val delta = toks.filter(col("tlen") % 5 >= 4)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.aggregate(old, aspec), spec)
        val snap = graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.advance(snap, delta, aspec), spec)
        graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2))
          .select(col("source"), posexplode(col("kmv_h")).as(Seq("p", "h")))
          .select(col("source"), (col("p") + 1).cast("long").as("pos"), col("h"))
          .orderBy("source", "pos")
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS token
             |  FROM documents),
             |h AS (SELECT DISTINCT source,
             |        CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS gh
             |      FROM toks),
             |r AS (SELECT source, gh,
             |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY gh) AS pos
             |      FROM h)
             |SELECT source, CAST(pos AS BIGINT) AS pos, gh AS h
             |FROM r WHERE pos <= 128 ORDER BY source, pos""".stripMargin)),

    // ---- bottom-k sample column inside the incremental snapshot -----------
    // A reproducible uniform per-group row sample as snapshot state
    // (IncrementalAgg.SampleCol / functions.HashSample): the k
    // lexicographically-smallest (md5-prefix doc hash, doc length) pairs
    // per source, merged by advance() as a bounded sorted-distinct union —
    // the KMV algebra with a payload. Derived estimates (here the lower
    // median of the sampled lengths) refresh at delta cost; the oracle
    // recomputes the exact bottom-k set and the same median over the FULL
    // corpus relationally, so the incrementally-maintained sample must
    // match hash-for-hash, value-for-value, position-for-position.
    // Shuffle at any SF: k (long, double) pairs per source.
    QueryDef(
      "q_incremental_sample",
      (s, d) => {
        val k = 64
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-mvsmp"),
          database = "graft_ops", table = "mvsmp_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val ia = graft.operators.IncrementalAgg
        val docs = Tables.load(s, d, "documents")
          .select(col("source"), col("n_chars"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
              .cast("long").as("h"),
            length(col("text")).cast("double").as("v"))
        val aspec = ia.Spec(keys = Seq("source"), sumCols = Nil,
          sampleCols = Seq(ia.SampleCol("h", "v", k)))
        val old = docs.filter(col("n_chars") % 5 < 4)
        val delta = docs.filter(col("n_chars") % 5 >= 4)
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.aggregate(old, aspec), spec)
        val snap = graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          ia.advance(snap, delta, aspec), spec)
        graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2))
          .withColumn("vs", array_sort(expr("transform(smp_h, x -> x.v)")))
          .withColumn("est_median",
            expr("element_at(vs, cast((size(vs) + 1) div 2 as int))"))
          .select(col("source"), col("cnt").as("n_rows"), col("est_median"),
            posexplode(col("smp_h")).as(Seq("p", "smp")))
          .select(col("source"), col("n_rows"), col("est_median"),
            (col("p") + 1).cast("long").as("pos"),
            col("smp.h").as("h"), col("smp.v").as("v"))
          .orderBy("source", "pos")
      },
      Some("""WITH d AS (
             |  SELECT source,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             |    CAST(LENGTH(text) AS DOUBLE) AS v
             |  FROM documents),
             |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows
             |      FROM d GROUP BY source),
             |dd AS (SELECT DISTINCT source, h, v FROM d WHERE v IS NOT NULL),
             |r AS (SELECT source, h, v,
             |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, v) AS pos
             |      FROM dd),
             |smp AS (SELECT * FROM r WHERE pos <= 64),
             |m AS (SELECT source, v AS est_median FROM (
             |        SELECT source, v,
             |          ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS vr,
             |          COUNT(*) OVER (PARTITION BY source) AS nv
             |        FROM smp) z
             |      WHERE vr = (nv + 1) // 2)
             |SELECT smp.source, n.n_rows, m.est_median,
             |       CAST(smp.pos AS BIGINT) AS pos, smp.h, smp.v
             |FROM smp JOIN n USING (source) JOIN m USING (source)
             |ORDER BY smp.source, smp.pos""".stripMargin)),

    // ---- zone-map data skipping over the versioned table ------------------
    // Data skipping as a first-class table-format feature (ZoneMap /
    // TableManifest.ColStats): commit lifts per-file [min, max] column
    // ranges out of the parquet footers (metadata-only, O(files));
    // readVersionPruned drops every file whose range provably cannot
    // intersect the predicate — a DRIVER-side decision made before any
    // scan task launches, the plain-parquet analogue of Delta/Iceberg
    // file-stats pruning. The table is range-clustered on n_chars so the
    // band predicate must skip files; the query REQUIREs filesKept <
    // filesTotal, making prune effectiveness part of the correctness
    // gate, while the oracle checks exactness (pruned read ≡ full-table
    // filter). Band bounds derive from min/max by integer arithmetic so
    // both engines compute identical cutoffs. The min/max agg is a 1-row
    // planning aggregate; at 100 TB the prune cost is manifest-read only.
    QueryDef(
      "q_zonemap_prune",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zonemap"),
          database = "graft_ops", table = "zm_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select("doc_id", "source", "lang", "n_chars")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("n_chars"), col("doc_id")), spec)
        val r = docs.agg(min("n_chars"), max("n_chars")).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn) / 5, mn + 2 * (mx - mn) / 5)
        val (df, rep) = graft.sinks.ObjectStoreSink.readVersionPruned(s, spec,
          Seq(graft.sinks.ZoneMap.Bound("n_chars", Some(lo), Some(hi))))
        require(rep.filesKept < rep.filesTotal,
          s"zone-map pruning skipped nothing over a range-clustered table: $rep")
        df.select("doc_id", "source", "lang", "n_chars").orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
             |           FROM documents)
             |SELECT doc_id, source, lang, n_chars
             |FROM documents, b
             |WHERE n_chars BETWEEN mn + (mx - mn) // 5
             |                  AND mn + 2 * (mx - mn) // 5
             |ORDER BY doc_id""".stripMargin)),

    // ---- metadata-only aggregate answering --------------------------------
    // COUNT(*) / COUNT(col) / MIN / MAX answered from the manifest ALONE
    // (ZoneMap.metaCount/metaNonNullCount/metaRange over the footer-lifted
    // stats): after the one-time commit, deriving these aggregates costs a
    // manifest read — zero scan tasks, O(files) driver work, invariant to
    // table size. The Option-typed API refuses to answer when stats can't
    // PROVE the value (the .get here is the gate: stats missing → query
    // errors → gate fails). The oracle recomputes all six aggregates
    // relationally over the full table — the metadata answers must be
    // EXACT, not approximate. Nulls are exercised: lang is nulled for 1/7
    // of docs before the commit, so COUNT(lang) < COUNT(*) proves the
    // null accounting flows footer → manifest → answer.
    QueryDef(
      "q_meta_agg",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaagg"),
          database = "graft_ops", table = "ma_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("doc_id")), spec)
        val live = java.nio.file.Paths.get(
          graft.sinks.ObjectStoreSink.snapshots(spec).last.path)
        val m = graft.sinks.TableManifest.read(live).get
        val zm = graft.sinks.ZoneMap
        val nc = zm.metaRange(m, "n_chars").get
        val src = zm.metaRange(m, "source").get
        import s.implicits._
        Seq((zm.metaCount(m).get, zm.metaNonNullCount(m, "lang").get,
          nc.min.toLong, nc.max.toLong, src.min, src.max))
          .toDF("n_rows", "n_lang", "min_chars", "max_chars",
            "min_source", "max_source")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(CASE WHEN doc_id % 7 <> 0 THEN lang END)
             |            AS BIGINT) AS n_lang,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
             |       MIN(source) AS min_source, MAX(source) AS max_source
             |FROM documents""".stripMargin)),

    // ---- metadata aggregates through the PLANNER seam ---------------------
    // Same six aggregates as q_meta_agg, but nobody calls the ZoneMap API:
    // the user writes plain SQL against the catalog table and
    // graft.plans.MetaAggRule (registered via GraftExtensions) collapses
    // the Aggregate-over-scan into a LocalRelation holding the manifest's
    // answers — the query REQUIREs the optimized plan to contain NO
    // relation scan at all, so "zero scan tasks" is part of the
    // correctness gate, not a claim. This is the reference's "users just
    // write SQL" surface (AthenaUtil.scala:30-113) with the warehouse's
    // stats shortcut now inside the engine. The oracle recomputes the
    // aggregates relationally — the planner's answers must be EXACT.
    QueryDef(
      "q_meta_agg_sql",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaaggsql"),
          database = "graft_ops", table = "masql_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        val df = s.sql(
          """SELECT count(*) AS n_rows, count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
            |       min(source) AS min_source, max(source) AS max_source
            |FROM graft_ops.masql_docs""".stripMargin)
        val opt = df.queryExecution.optimizedPlan
        val scans = opt.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }
        val locals = opt.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        }
        require(scans.isEmpty && locals.nonEmpty,
          s"MetaAggRule did not answer from the manifest — optimized plan:\n$opt")
        df
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(CASE WHEN doc_id % 7 <> 0 THEN lang END)
             |            AS BIGINT) AS n_lang,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
             |       MIN(source) AS min_source, MAX(source) AS max_source
             |FROM documents""".stripMargin)),

    // ---- GROUPED metadata aggregates through the planner seam -------------
    // GROUP BY over a partition column, COUNT(*)/COUNT(col)/MIN/MAX per
    // group — answered entirely from the manifest: partition-dir stats
    // make each grouping column single-valued per file, per-file footer
    // row counts make the group counts exact, and each group's MIN/MAX
    // merge that group's file ranges. Zero scan tasks (REQUIREd below);
    // the manifest-stats generalization of Spark's own
    // OptimizeMetadataOnlyQuery (which reads only partition VALUES, not
    // stats, and can't do counts at all). The oracle recomputes the whole
    // report relationally, nulls exercised through the 1/7 lang null-out.
    QueryDef(
      "q_meta_agg_group",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaagggrp"),
          database = "graft_ops", table = "magrp_docs",
          writeMode = "overwrite", deleteBeforeWrite = true,
          partitionBy = Seq("source"))
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(4, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        val df = s.sql(
          """SELECT source, count(*) AS n_rows, count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
            |FROM graft_ops.magrp_docs
            |GROUP BY source ORDER BY source""".stripMargin)
        val opt = df.queryExecution.optimizedPlan
        val scans = opt.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }
        require(scans.isEmpty,
          s"grouped metadata aggregate was not answered from the manifest:\n$opt")
        df
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(CASE WHEN doc_id % 7 <> 0 THEN lang END)
             |            AS BIGINT) AS n_lang,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- FILTERED metadata aggregates through the planner seam ------------
    // `SELECT count(*) ... WHERE part_col <predicate>` — the highest-
    // frequency metadata-answerable shape at 100 TB — answered with zero
    // scan tasks: every Filter conjunct references only columns that are
    // SINGLE-VALUED per file (here the partition column, whose dir-derived
    // stats have min == max and zero nulls), so the predicate is exactly
    // decidable file-by-file and the qualifying files form a provable
    // sub-manifest. Composes with Spark's own catalog partition pruning
    // (the covering evidence gate vouches for the already-narrowed scan
    // set) AND with grouping (the grouped variant below). Both plans are
    // REQUIREd to contain no relation scan; the oracle recomputes both
    // relationally — the metadata answers must be EXACT, nulls exercised
    // through the 1/7 lang null-out.
    QueryDef(
      "q_meta_agg_filtered",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaaggfil"),
          database = "graft_ops", table = "mafil_docs",
          writeMode = "overwrite", deleteBeforeWrite = true,
          partitionBy = Seq("source"))
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(4, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        def requireMetaOnly(df: org.apache.spark.sql.DataFrame): Unit = {
          val opt = df.queryExecution.optimizedPlan
          val scans = opt.collect {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
          }
          require(scans.isEmpty,
            s"filtered metadata aggregate was not answered from the manifest:\n$opt")
        }
        // global filtered shape: one row, no grouping
        val global = s.sql(
          """SELECT count(*) AS n_rows, count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
            |FROM graft_ops.mafil_docs
            |WHERE source BETWEEN 'src12' AND 'src4'""".stripMargin)
        requireMetaOnly(global)
        // grouped + filtered composition, returned for the oracle compare
        val df = s.sql(
          """SELECT source, count(*) AS n_rows, count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
            |FROM graft_ops.mafil_docs
            |WHERE source BETWEEN 'src12' AND 'src4' AND source <> 'src3'
            |GROUP BY source ORDER BY source""".stripMargin)
        requireMetaOnly(df)
        // the global answer must equal the sum/min/max over the grouped one
        // PLUS the excluded group — cross-checked against the same manifest
        val g = global.head
        val byGroup = s.sql(
          """SELECT count(*) AS n, count(lang) AS nl FROM graft_ops.mafil_docs
            |WHERE source BETWEEN 'src12' AND 'src4'""".stripMargin).head
        require(g.getLong(0) == byGroup.getLong(0) && g.getLong(1) == byGroup.getLong(1),
          "filtered metadata answers disagree between equivalent shapes")
        df
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(CASE WHEN doc_id % 7 <> 0 THEN lang END)
             |            AS BIGINT) AS n_lang,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents
             |WHERE source BETWEEN 'src12' AND 'src4' AND source <> 'src3'
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- RANGE-filtered metadata aggregates (interval evidence) -----------
    // `count(*) WHERE n_chars < cut` answered from the manifest on a table
    // whose files are MULTI-valued in n_chars: each file's [min, max]
    // window + null count decides the predicate three-valued (all-true
    // files contribute wholly, all-false drop, a straddler refuses) — the
    // r12 verdict's "count rows in a time range" shape, which the single-
    // valued-only r12 rule refused. Files are banded by floor(n_chars/100)
    // partition dirs so the static cut 300 falls BETWEEN windows at every
    // SF; the cut 250 straddles band-2 files, and the query REQUIREs that
    // refusal (scan present) alongside the zero-scan proof for the clean
    // cut. The oracle recomputes everything relationally.
    QueryDef(
      "q_meta_agg_range",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaaggrng"),
          database = "graft_ops", table = "marng_docs",
          writeMode = "overwrite", deleteBeforeWrite = true,
          partitionBy = Seq("band"))
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            floor(col("n_chars") / 100).cast("long").as("band"),
            when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(4, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        def scans(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
          }
        // clean cut on a band boundary: every file all-true or all-false
        val global = s.sql(
          """SELECT count(*) AS n_rows, count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
            |FROM graft_ops.marng_docs WHERE n_chars < 300""".stripMargin)
        require(scans(global).isEmpty,
          s"range-filtered metadata aggregate was not answered from the " +
            s"manifest:\n${global.queryExecution.optimizedPlan}")
        // a cut INSIDE band 2's windows straddles: the rewrite must refuse
        val straddle = s.sql(
          "SELECT count(*) AS n FROM graft_ops.marng_docs WHERE n_chars < 250")
        require(scans(straddle).nonEmpty,
          "a straddling cut must refuse the metadata rewrite")
        // grouped composition: band is single-valued per file (partition
        // dir), the n_chars range decides per file within each group
        // the CAST over the group key (partition-column type inference
        // reads band back as INT; the oracle schema wants BIGINT) is a
        // per-group-constant scalar the rule evaluates on the exact keys
        val df = s.sql(
          """SELECT CAST(band AS BIGINT) AS band, count(*) AS n_rows,
            |       count(lang) AS n_lang,
            |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
            |FROM graft_ops.marng_docs WHERE n_chars < 300
            |GROUP BY band ORDER BY band""".stripMargin)
        require(scans(df).isEmpty,
          s"grouped range-filtered metadata aggregate was not answered " +
            s"from the manifest:\n${df.queryExecution.optimizedPlan}")
        // cross-check the global answer against the grouped one
        val g = global.head
        require(g.getLong(0) == df.collect().map(_.getLong(1)).sum,
          "range metadata answers disagree between equivalent shapes")
        df
      },
      Some("""SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS band,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(CASE WHEN doc_id % 7 <> 0 THEN lang END)
             |            AS BIGINT) AS n_lang,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents
             |WHERE n_chars < 300
             |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- metadata-only SUM / decimal AVG (recorded per-file sums) ---------
    // Parquet footers carry min/max/nulls but no sums, so tables committed
    // with `sumColumns` record EXACT per-file sums in the manifest
    // (TableManifest.enrichSums — integral sums as BigInt strings, decimal
    // sums unscaled at the column's scale; float sums are order-dependent
    // and never recorded). MetaAggRule then answers SUM(col) — and AVG on
    // decimals, where exact-sum ÷ exact-count at the result scale equals
    // execution bit-for-bit — with ZERO scan tasks, composing with the
    // grouped and interval-filtered paths: "sum revenue for the range" is
    // O(files) driver arithmetic. Gates: zero-scan REQUIREs on the global,
    // scalar-over-agg (CAST(sum AS DOUBLE), collapsed into the aggregate
    // list by Catalyst), and grouped+filtered shapes; bit-equality of the
    // answered AVG/SUM against the kill-switched real execution; a double
    // column's SUM REQUIREd to refuse (the scan runs); partition-column
    // SUM answered with no recording at all (single-valued × rows).
    QueryDef(
      "q_meta_agg_sum",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-metaaggsum"),
          database = "graft_ops", table = "msum_docs",
          writeMode = "overwrite", deleteBeforeWrite = true,
          partitionBy = Seq("band"), sumColumns = Seq("n_chars", "amount"))
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            floor(col("n_chars") / 100).cast("long").as("band"),
            when(col("doc_id") % 5 =!= 0,
              (col("n_chars") * 3).cast("decimal(14,2)")).as("amount"),
            (col("n_chars") * 0.5).as("dbl"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(4, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        def scans(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
          }
        // global: long sum, decimal sum under a scalar CAST, a partition-
        // column sum (no recording needed), and COUNT of the nullable col
        val global = s.sql(
          """SELECT sum(n_chars) AS sum_chars,
            |       CAST(sum(amount) AS DOUBLE) AS sum_amount,
            |       sum(band) AS sum_band, count(amount) AS n_amount
            |FROM graft_ops.msum_docs""".stripMargin)
        require(scans(global).isEmpty,
          s"metadata SUM was not answered from the manifest:\n" +
            s"${global.queryExecution.optimizedPlan}")
        // the answered values must BIT-MATCH real execution (kill switch)
        val probe = "SELECT avg(amount) AS a, sum(amount) AS sa, " +
          "sum(n_chars) AS sn, sum(band) AS sb FROM graft_ops.msum_docs"
        val on = s.sql(probe)
        require(scans(on).isEmpty,
          s"metadata AVG was not answered:\n${on.queryExecution.optimizedPlan}")
        val onRow = on.collect()(0)
        s.conf.set("spark.graft.metaAgg.enabled", "false")
        val offRow =
          try s.sql(probe).collect()(0)
          finally s.conf.set("spark.graft.metaAgg.enabled", "true")
        require(onRow == offRow,
          s"metadata SUM/AVG disagree with execution: $onRow vs $offRow")
        // float/double sums are order-dependent: the rewrite must refuse
        require(scans(s.sql(
          "SELECT sum(dbl) AS sd FROM graft_ops.msum_docs")).nonEmpty,
          "a double-column SUM must refuse the metadata rewrite")
        // DISTINCT where provable: COUNT(DISTINCT partition-col) counts
        // the distinct per-file constants, MIN/MAX(DISTINCT) equal their
        // plain forms — zero scans, bit-matched against execution
        val dProbe = "SELECT count(distinct band) AS nb, " +
          "max(distinct n_chars) AS mx FROM graft_ops.msum_docs"
        val dOn = s.sql(dProbe)
        require(scans(dOn).isEmpty,
          s"distinct metadata answers missing:\n${dOn.queryExecution.optimizedPlan}")
        val dOnRow = dOn.collect()(0)
        s.conf.set("spark.graft.metaAgg.enabled", "false")
        val dOffRow =
          try s.sql(dProbe).collect()(0)
          finally s.conf.set("spark.graft.metaAgg.enabled", "true")
        require(dOnRow == dOffRow,
          s"distinct metadata answers disagree: $dOnRow vs $dOffRow")
        // COUNT(DISTINCT) over a column multi-valued in its files refuses
        require(scans(s.sql(
          "SELECT count(distinct n_chars) AS n FROM graft_ops.msum_docs"))
          .nonEmpty, "multi-valued COUNT DISTINCT must refuse")
        // grouped + interval-filtered composition, returned for the oracle
        val df = s.sql(
          """SELECT CAST(band AS BIGINT) AS band, count(*) AS n_rows,
            |       sum(n_chars) AS sum_chars,
            |       CAST(sum(amount) AS DOUBLE) AS sum_amount
            |FROM graft_ops.msum_docs WHERE n_chars < 300
            |GROUP BY band ORDER BY band""".stripMargin)
        require(scans(df).isEmpty,
          s"grouped+filtered metadata SUM was not answered:\n" +
            s"${df.queryExecution.optimizedPlan}")
        df
      },
      Some("""WITH t AS (SELECT doc_id, n_chars,
             |  CAST(FLOOR(n_chars / 100) AS BIGINT) AS band,
             |  CASE WHEN doc_id % 5 <> 0
             |       THEN CAST(n_chars * 3 AS DECIMAL(14,2)) END AS amount
             |  FROM documents)
             |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |       CAST(SUM(amount) AS DOUBLE) AS sum_amount
             |FROM t WHERE n_chars < 300
             |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- zone maps × partition dirs × time travel -------------------------
    // The 100 TB read path: a version-PINNED read under a predicate that
    // combines a partition column (lang — pruned via the manifest's
    // partition-directory-derived stats, i.e. whole partition dirs drop
    // driver-side) with a data column (n_chars — pruned via footer-lifted
    // zone maps inside the surviving dirs). Gates: partition pruning alone
    // must skip files, the combined predicate must skip strictly more, and
    // the read is pinned to v1 while the LIVE table has since been
    // rewritten with corrupted n_chars — so the oracle (original
    // documents) only matches if time travel, partition pruning, and zone
    // maps compose exactly.
    QueryDef(
      "q_zonemap_travel",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmtravel"),
          database = "graft_ops", table = "zmt_docs",
          writeMode = "overwrite", deleteBeforeWrite = true,
          partitionBy = Seq("lang"))
        val docs = Tables.load(s, d, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        val sink = graft.sinks.ObjectStoreSink
        sink.replaceTable(s,
          docs.repartitionByRange(8, col("n_chars"), col("doc_id")), spec)
        val v1 = sink.snapshots(spec).last.version
        // live table moves on; the pinned read below must be blind to this
        sink.replaceTable(s,
          docs.withColumn("n_chars", col("n_chars") * lit(1000L)), spec)
        val r = docs.agg(min("n_chars"), max("n_chars")).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn) / 5, mn + 2 * (mx - mn) / 5)
        val zm = graft.sinks.ZoneMap
        val m = graft.sinks.TableManifest.read(java.nio.file.Paths.get(
          sink.snapshots(spec).find(_.version == v1).get.path)).get
        val langBound = zm.Bound("lang", Some("de"), Some("es"))
        val bandBound = zm.Bound("n_chars", Some(lo), Some(hi))
        val langOnly = zm.prune(m, Seq(langBound))._2
        require(langOnly.filesKept < langOnly.filesTotal,
          s"partition-dir stats pruned nothing: $langOnly")
        val (df, rep) = sink.readVersionPruned(s, spec,
          Seq(langBound, bandBound), version = Some(v1))
        require(rep.filesKept < langOnly.filesKept,
          s"zone maps did not prune beyond partition dirs: $rep vs $langOnly")
        df.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
             |           FROM documents)
             |SELECT doc_id, lang, source, n_chars
             |FROM documents, b
             |WHERE lang BETWEEN 'de' AND 'es'
             |  AND n_chars BETWEEN mn + (mx - mn) // 5
             |                  AND mn + 2 * (mx - mn) // 5
             |ORDER BY doc_id""".stripMargin)),

    // ---- zone-map skipping through the PLANNER seam -----------------------
    // Same prune as q_zonemap_prune, but nobody calls readVersionPruned:
    // the user writes a plain SQL WHERE against the catalog table and
    // graft.plans.ZoneMapScanRule swaps the scan's FileIndex for a pruned
    // view that never LISTS the provably-disjoint files — scan tasks for
    // them are never created. The query REQUIREs the optimized plan's
    // relation to carry a ZoneMapPrunedIndex with filesKept < filesTotal,
    // so automatic skipping is gate-checked; the oracle checks exactness
    // (the Filter stays in the plan, so survivors re-filter exactly).
    QueryDef(
      "q_zonemap_sql",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmsql"),
          database = "graft_ops", table = "zsql_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select("doc_id", "source", "lang", "n_chars")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("n_chars"), col("doc_id")), spec)
        val r = docs.agg(min("n_chars"), max("n_chars")).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn) / 5, mn + 2 * (mx - mn) / 5)
        graft.GraftExtensions.register(s)
        val df = s.sql(
          s"""SELECT doc_id, source, lang, n_chars
             |FROM graft_ops.zsql_docs
             |WHERE n_chars BETWEEN $lo AND $hi
             |ORDER BY doc_id""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"ZoneMapScanRule did not prune the SQL scan — reports=$reports plan:\n" +
            df.queryExecution.optimizedPlan)
        df
      },
      Some("""WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
             |           FROM documents)
             |SELECT doc_id, source, lang, n_chars
             |FROM documents, b
             |WHERE n_chars BETWEEN mn + (mx - mn) // 5
             |                  AND mn + 2 * (mx - mn) // 5
             |ORDER BY doc_id""".stripMargin)),

    // ---- IS NULL file skipping: the audit-sweep proof ---------------------
    // `WHERE col IS NULL` is the data-quality sweep every 100 TB lake runs
    // — and per-file NULL COUNTS prove it just like ranges prove bands: a
    // file whose footer recorded exactly zero nulls for the column
    // provably holds no matching row and is never LISTED. The fixture
    // nulls lang only in the low doc_id band, commits range-clustered on
    // doc_id (so most files are provably null-free), and REQUIREs the
    // pruned listing; an unknown null count (-1) never prunes by
    // construction of the stats. The oracle replays the sweep over the
    // raw rows — skipping must be invisible to results.
    QueryDef(
      "q_zonemap_isnull",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmisnull"),
          database = "graft_ops", table = "znul_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
        val cut = docs.agg(max("doc_id")).head.getLong(0) / 10
        val staged = docs.select(col("doc_id"), col("source"), col("n_chars"),
          when(col("doc_id") > cut || col("doc_id") % 3 =!= 0, col("lang"))
            .as("lang"))
        graft.sinks.ObjectStoreSink.replaceTable(s,
          staged.repartitionByRange(8, col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        val df = s.sql(
          """SELECT doc_id, source, n_chars
            |FROM graft_ops.znul_docs
            |WHERE lang IS NULL
            |ORDER BY doc_id""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"IS NULL did not prune provably null-free files: $reports")
        df
      },
      Some("""WITH b AS (SELECT CAST(FLOOR(MAX(doc_id) / 10.0) AS BIGINT)
             |           AS cut FROM documents)
             |SELECT doc_id, source, n_chars
             |FROM documents, b
             |WHERE NOT (doc_id > b.cut OR doc_id % 3 <> 0)
             |ORDER BY doc_id""".stripMargin)),

    // ---- LIKE 'prefix%' file skipping --------------------------------------
    // The URL/path prefix scan — `WHERE source LIKE 'src1%'` — reaches the
    // planner as StartsWith, which relaxes to the sound closed range
    // [prefix, nextPrefix]: every matching row is ≥ the prefix and < the
    // last-char-bumped successor. Committed range-clustered on source, the
    // scan REQUIREs the pruned listing; the oracle replays the LIKE over
    // the raw rows.
    QueryDef(
      "q_zonemap_prefix",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmprefix"),
          database = "graft_ops", table = "zpre_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select("doc_id", "source", "lang", "n_chars")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("source"), col("doc_id")), spec)
        graft.GraftExtensions.register(s)
        val df = s.sql(
          """SELECT doc_id, source, lang, n_chars
            |FROM graft_ops.zpre_docs
            |WHERE source LIKE 'src1%'
            |ORDER BY doc_id""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"LIKE-prefix did not prune the source-clustered listing: $reports")
        df
      },
      Some("""SELECT doc_id, source, lang, n_chars
             |FROM documents
             |WHERE source LIKE 'src1%'
             |ORDER BY doc_id""".stripMargin)),

    // ---- DISJUNCTION file skipping: per-file may-match trees ---------------
    // `WHERE lo1..hi1 OR lo2..hi2` — the two-band shape (hot-recent OR
    // hot-archive) that conjunct-only pruning is structurally blind to: a
    // file drops only when EVERY Or-branch is provably disjoint from its
    // recorded window, the listing-level analogue of parquet's own
    // row-group filter trees. Committed range-clustered on n_chars, the
    // two bands sit at opposite ends, so the middle files must drop
    // (REQUIREd); the oracle replays the disjunction over the raw rows.
    QueryDef(
      "q_zonemap_or",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-zmor"),
          database = "graft_ops", table = "zor_docs",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val docs = Tables.load(s, d, "documents")
          .select("doc_id", "source", "lang", "n_chars")
        graft.sinks.ObjectStoreSink.replaceTable(s,
          docs.repartitionByRange(8, col("n_chars"), col("doc_id")), spec)
        val r = docs.agg(min("n_chars"), max("n_chars")).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val w = (mx - mn) / 10
        graft.GraftExtensions.register(s)
        val df = s.sql(
          s"""SELECT doc_id, source, lang, n_chars
             |FROM graft_ops.zor_docs
             |WHERE n_chars <= ${mn + w} OR n_chars >= ${mx - w}
             |ORDER BY doc_id""".stripMargin)
        val reports = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case z: graft.plans.ZoneMapPrunedIndex => Seq(z.report)
                  case _ => Nil
                }
              case _ => Nil
            }
        }.flatten
        require(reports.nonEmpty && reports.head.filesKept < reports.head.filesTotal,
          s"two-band OR did not prune the middle files: $reports")
        df
      },
      Some("""WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx,
             |  (MAX(n_chars) - MIN(n_chars)) // 10 AS w FROM documents)
             |SELECT doc_id, source, lang, n_chars
             |FROM documents, b
             |WHERE n_chars <= mn + w OR n_chars >= mx - w
             |ORDER BY doc_id""".stripMargin)),

    // ---- schema-evolution diff (structural audit over time travel) --------
    // The third leg of the audit trio (drift = statistics, table diff =
    // rows, this = shape). v2 drops a column, adds one, and retypes one
    // through the REAL replaceTable schema-evolution path (catalog entry
    // re-created, new version committed); schemaDiff compares the two
    // time-traveled versions as pure metadata (no data read). The oracle
    // states the expected report literally — the versioned write→read loop
    // must preserve types exactly for the catalogStrings to line up.
    QueryDef(
      "q_schema_diff",
      (s, d) => {
        val spec = ObjectStoreSpec(
          path = graft.Scratch.fresh("graft-schdiff"),
          database = "graft_ops", table = "schdiff_t",
          writeMode = "overwrite", deleteBeforeWrite = true)
        val li = Tables.load(s, d, "lineitem")
        val v1 = li.select(col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"))
        val v2 = li.select(col("l_orderkey"),
          col("l_quantity").cast("decimal(12,2)").as("l_quantity"),
          concat(col("l_returnflag"), lit("-"), col("l_linestatus"))
            .as("l_comment"))
        graft.sinks.ObjectStoreSink.replaceTable(s, v1, spec)
        graft.sinks.ObjectStoreSink.replaceTable(s, v2, spec)
        graft.operators.TableDiff.schemaDiff(
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(1)),
          graft.sinks.ObjectStoreSink.readVersion(s, spec, Some(2)))
          .orderBy("column")
      },
      Some("""SELECT * FROM (VALUES
             |  ('l_comment', 'added', NULL, 'string'),
             |  ('l_orderkey', 'unchanged', 'bigint', 'bigint'),
             |  ('l_quantity', 'retyped', 'double', 'decimal(12,2)'),
             |  ('l_returnflag', 'removed', 'string', NULL)
             |) AS t("column", status, old_type, new_type)
             |ORDER BY "column"""".stripMargin)),

    // ---- referential-integrity audit (cross-table DQ) ---------------------
    // Orphaned-fact detection across three FK edges: two intact
    // (lineitem→orders, customer→nation — must report ZERO, the detector
    // can't cry wolf) and one deliberately broken (orders→customer with a
    // c_custkey%7 slice of the dimension dropped — the "dimension load
    // silently lost rows" failure). The child collapses to its distinct-key
    // grain before probing, so the shuffle is keys-not-rows at any scale.
    QueryDef(
      "q_dq_referential",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        val ord = Tables.load(s, d, "orders")
        val cust = Tables.load(s, d, "customer")
        val nat = Tables.load(s, d, "nation")
        val brokenDim = cust.filter(col("c_custkey") % 7 =!= 0)
        graft.dq.ReferentialCheck.report(Seq(
          (li, "l_orderkey", ord, "o_orderkey", "lineitem->orders"),
          (ord, "o_custkey", brokenDim, "c_custkey", "orders->customer_dropped"),
          (cust, "c_nationkey", nat, "n_nationkey", "customer->nation")))
          .orderBy("edge")
      },
      Some("""WITH edge1 AS (
             |  SELECT 'lineitem->orders' AS edge,
             |    CAST(COUNT(*) AS BIGINT) AS n_child_rows,
             |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
             |    CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
             |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE l.l_orderkey IS NOT NULL),
             |dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
             |edge2 AS (
             |  SELECT 'orders->customer_dropped',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END) AS BIGINT)
             |  FROM orders o LEFT JOIN dim c ON o.o_custkey = c.c_custkey
             |  WHERE o.o_custkey IS NOT NULL),
             |edge3 AS (
             |  SELECT 'customer->nation',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL THEN c.c_nationkey END) AS BIGINT)
             |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  WHERE c.c_nationkey IS NOT NULL)
             |SELECT * FROM edge1 UNION ALL SELECT * FROM edge2
             |UNION ALL SELECT * FROM edge3
             |ORDER BY edge""".stripMargin))
  )

  /** Shared oracle: incremental refresh (batch or streamed) must equal
    * one-shot recomputation over the full fact table.
    */
  private lazy val mvOracleSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price,
      |  MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
}
