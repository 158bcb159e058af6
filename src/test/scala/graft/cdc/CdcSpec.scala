package graft.cdc

import graft.SparkSpec
import graft.model.{JdbcSourceSpec, ObjectStoreSpec}
import graft.streaming.CdcStream
import java.nio.file.Files
import java.time.{ZoneOffset, ZonedDateTime}

class CdcSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._

  // ---------------------------------------------------------------- cron ----
  test("cron matcher: fields, ranges, steps, next-fire") {
    val c = CronExpr("*/15 3 * * *")
    val t = ZonedDateTime.of(2026, 8, 12, 2, 50, 0, 0, ZoneOffset.UTC)
    c.nextAfter(t) shouldBe ZonedDateTime.of(2026, 8, 12, 3, 0, 0, 0, ZoneOffset.UTC)
    CronExpr("30 14 1 * *").nextAfter(t) shouldBe
      ZonedDateTime.of(2026, 9, 1, 14, 30, 0, 0, ZoneOffset.UTC)
    CronExpr("0 0 * * 0").matches(
      ZonedDateTime.of(2026, 8, 16, 0, 0, 0, 0, ZoneOffset.UTC)) shouldBe true // Sunday
    an[IllegalArgumentException] should be thrownBy CronExpr("* * *")
  }

  test("cron Quartz extras: L, L-n, LW, nW, dL, d#n, ?") {
    def at(y: Int, m: Int, d: Int) = ZonedDateTime.of(y, m, d, 0, 0, 0, 0, ZoneOffset.UTC)
    // L: last day of month (Feb 2026 = 28)
    CronExpr("0 0 L * ?").matches(at(2026, 2, 28)) shouldBe true
    CronExpr("0 0 L * ?").matches(at(2026, 2, 27)) shouldBe false
    // L-2: two days before last (Aug 31 → 29)
    CronExpr("0 0 L-2 * ?").matches(at(2026, 8, 29)) shouldBe true
    // LW: last weekday — Aug 2026 ends Mon 31 → 31; May 2026 ends Sun 31 → Fri 29
    CronExpr("0 0 LW * ?").matches(at(2026, 8, 31)) shouldBe true
    CronExpr("0 0 LW * ?").matches(at(2026, 5, 29)) shouldBe true
    CronExpr("0 0 LW * ?").matches(at(2026, 5, 31)) shouldBe false
    // 15W: nearest weekday to the 15th — Aug 15 2026 is a Saturday → Fri 14
    CronExpr("0 0 15W * ?").matches(at(2026, 8, 14)) shouldBe true
    CronExpr("0 0 15W * ?").matches(at(2026, 8, 15)) shouldBe false
    // 1W when the 1st is a Sunday (Nov 2026) → Mon 2
    CronExpr("0 0 1W * ?").matches(at(2026, 11, 2)) shouldBe true
    // 5L: last Friday of Aug 2026 = the 28th
    CronExpr("0 0 ? * 5L").matches(at(2026, 8, 28)) shouldBe true
    CronExpr("0 0 ? * 5L").matches(at(2026, 8, 21)) shouldBe false
    // 1#3: third Monday of Aug 2026 = the 17th
    CronExpr("0 0 ? * 1#3").matches(at(2026, 8, 17)) shouldBe true
    CronExpr("0 0 ? * 1#3").matches(at(2026, 8, 10)) shouldBe false
    // nextAfter scans through the specials too
    CronExpr("30 9 L * ?").nextAfter(at(2026, 2, 20)) shouldBe
      ZonedDateTime.of(2026, 2, 28, 9, 30, 0, 0, ZoneOffset.UTC)
  }

  test("isDue honors cron between runs") {
    val spec = JdbcSourceSpec(url = "x", cronExpression = Some("0 * * * *"))
    val last = ZonedDateTime.of(2026, 8, 12, 9, 30, 0, 0, ZoneOffset.UTC)
    JdbcPull.isDue(spec, Some(last),
      ZonedDateTime.of(2026, 8, 12, 9, 45, 0, 0, ZoneOffset.UTC)) shouldBe false
    JdbcPull.isDue(spec, Some(last),
      ZonedDateTime.of(2026, 8, 12, 10, 0, 0, 0, ZoneOffset.UTC)) shouldBe true
    JdbcPull.isDue(spec, None, last) shouldBe true
  }

  // ------------------------------------------------- jdbc incremental pull ----
  test("watermarked pull: two pulls, no overlap, watermark persists") {
    val dir = scratchDir("pull").toPath
    val url = s"jdbc:derby:$dir/db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      "CREATE TABLE src_tbl (id INT, name VARCHAR(20), updated TIMESTAMP)")
    def ins(id: Int, name: String, ts: String): Unit =
      c.createStatement().executeUpdate(
        s"INSERT INTO src_tbl VALUES ($id, '$name', TIMESTAMP('$ts'))")
    ins(1, "a", "2026-01-01 10:00:00"); ins(2, "b", "2026-01-01 11:00:00")

    val store = new WatermarkStore(dir.resolve("wm.properties"))
    val spec = JdbcSourceSpec(url = url, table = "src_tbl",
      timestampFieldName = "updated")
    val p1 = JdbcPull.pull(spark, "ds1", spec, store)
    p1.rows shouldBe 2
    // nothing persisted until the caller lands the batch and commits
    store.get("ds1") shouldBe None
    p1.commit(store, "ds1")
    store.get("ds1").get should startWith ("2026-01-01 11:00:00")

    // no new rows → empty pull, watermark unchanged
    val p2 = JdbcPull.pull(spark, "ds1", spec, store)
    p2.rows shouldBe 0
    p2.commit(store, "ds1")
    store.get("ds1").get should startWith ("2026-01-01 11:00:00")

    ins(3, "c", "2026-01-01 12:00:00")
    val p3 = JdbcPull.pull(spark, "ds1", spec, store)
    p3.rows shouldBe 1
    p3.df.select("id").as[Int].collect().toSeq shouldBe Seq(3)

    // sink failure simulation: the batch was pulled but NOT committed —
    // the stored watermark is unchanged and the next pull re-delivers the
    // exact same window (at-least-once, no silent loss)
    store.get("ds1").get should startWith ("2026-01-01 11:00:00")
    val p3b = JdbcPull.pull(spark, "ds1", spec, store)
    p3b.rows shouldBe 1
    p3b.df.select("id").as[Int].collect().toSeq shouldBe Seq(3)
    p3b.commit(store, "ds1")
    store.get("ds1").get should startWith ("2026-01-01 12:00:00")

    // the pulled batch is a snapshot: rows inserted after the pull do not
    // leak into it when the sink consumes it later (no lazy re-read)
    ins(4, "d", "2026-01-01 13:00:00")
    p3b.df.count() shouldBe 1

    // includeFields projects server-side with ts forced last
    val p4spec = spec.copy(includeFields = Seq("id", "updated"))
    val store2 = new WatermarkStore(dir.resolve("wm2.properties"))
    val p4 = JdbcPull.pull(spark, "ds2", p4spec, store2)
    p4.df.columns.map(_.toLowerCase).toSeq shouldBe Seq("id", "updated")
    c.close()
  }

  // -------------------------------------------------------- debezium parse ----
  private def envelope(op: String, beforeJson: String, afterJson: String,
      ts: Long): String =
    s"""{"payload": {"op": "$op", "before": $beforeJson, "after": $afterJson,
       |"source": {"db": "shop", "schema": "dbo", "table": "orders"},
       |"ts_ms": $ts}}""".stripMargin.replace("\n", " ")

  test("debezium envelope parse: insert/update/delete + junk tolerance") {
    val lines = Seq(
      envelope("c", "null", """{"id": 1, "amt": 10.5}""", 100),
      envelope("u", """{"id": 1, "amt": 10.5}""", """{"id": 1, "amt": 99.0}""", 200),
      envelope("d", """{"id": 1, "amt": 99.0}""", "null", 300),
      """{"payload": {"ts_ms": 1}}""", // heartbeat → dropped
      "not json at all")
    val df = lines.toDF("value")
    val msgs = DebeziumCDC.parse(df).collect().sortBy(_.seq)
    msgs.length shouldBe 3
    msgs(0).isInsert shouldBe true
    msgs(0).after shouldBe Map("id" -> "1", "amt" -> "10.5")
    msgs(0).database shouldBe "shop"
    msgs(1).isUpdate shouldBe true
    msgs(1).before("amt") shouldBe "10.5"
    msgs(2).isDelete shouldBe true
    msgs(2).before("id") shouldBe "1"
  }

  test("CdcApply: last-event-per-key, upserts and deletes in one pass") {
    val target = Seq((1, 100.0), (2, 200.0), (3, 300.0)).toDF("id", "amt")
    val batch = Seq(
      CDCMessage("d", "s", "t", isInsert = true, isUpdate = false, isDelete = false,
        Map.empty, Map("id" -> "4", "amt" -> "400.0"), 1),
      CDCMessage("d", "s", "t", isInsert = false, isUpdate = true, isDelete = false,
        Map("id" -> "2", "amt" -> "200.0"), Map("id" -> "2", "amt" -> "250.0"), 2),
      // two events for id=5; the later one wins
      CDCMessage("d", "s", "t", isInsert = true, isUpdate = false, isDelete = false,
        Map.empty, Map("id" -> "5", "amt" -> "1.0"), 3),
      CDCMessage("d", "s", "t", isInsert = false, isUpdate = true, isDelete = false,
        Map("id" -> "5", "amt" -> "1.0"), Map("id" -> "5", "amt" -> "2.0"), 4),
      CDCMessage("d", "s", "t", isInsert = false, isUpdate = false, isDelete = true,
        Map("id" -> "3", "amt" -> "300.0"), Map.empty, 5)
    ).toDS()
    val out = CdcApply.applyBatch(target, batch, Seq("id"))
      .orderBy("id").as[(Int, Double)].collect().toSeq
    out shouldBe Seq((1, 100.0), (2, 250.0), (4, 400.0), (5, 2.0))
  }

  // ------------------------------------------------------- streaming e2e ----
  test("CdcStream: file-source Debezium stream applies to a catalog table") {
    val lake = scratchDir("cdclake").getAbsolutePath
    val inDir = scratchDir("cdcin").toPath
    val ckpt = scratchDir("cdcckpt").getAbsolutePath
    val sink = ObjectStoreSpec(path = lake, database = "graft_cdc", table = "orders")

    // seed the target table
    graft.sinks.ObjectStoreSink.write(spark,
      Seq((1, 10.5), (2, 20.0)).toDF("id", "amt"), sink)

    Files.writeString(inDir.resolve("batch1.jsonl"), Seq(
      envelope("c", "null", """{"id": 3, "amt": 30.0}""", 100),
      envelope("u", """{"id": 1, "amt": 10.5}""", """{"id": 1, "amt": 11.0}""", 200),
      envelope("d", """{"id": 2, "amt": 20.0}""", "null", 300)
    ).mkString("\n"))

    val q = CdcStream.start(spark, inDir.toString, sink, Seq("id"), ckpt)
    q.awaitTermination(120000) shouldBe true

    val rows = spark.table("graft_cdc.orders").orderBy("id")
      .as[(Int, Double)].collect().toSeq
    rows shouldBe Seq((1, 11.0), (3, 30.0))

    // second batch resumes from the checkpoint (exactly-once intake)
    Files.writeString(inDir.resolve("batch2.jsonl"),
      envelope("c", "null", """{"id": 9, "amt": 90.0}""", 400))
    val q2 = CdcStream.start(spark, inDir.toString, sink, Seq("id"), ckpt)
    q2.awaitTermination(120000) shouldBe true
    spark.table("graft_cdc.orders").count() shouldBe 3
  }

  test("CdcStream partition-scoped apply: untouched partitions byte-identical, emptied dropped") {
    val lake = scratchDir("cdcplake").getAbsolutePath
    val inDir = scratchDir("cdcpin").toPath
    val ckpt = scratchDir("cdcpckpt").getAbsolutePath
    val sink = ObjectStoreSpec(path = lake, database = "graft_cdcp",
      table = "orders_p", partitionBy = Seq("region"))

    graft.sinks.ObjectStoreSink.write(spark,
      Seq((1, 10.5, "us"), (2, 20.0, "eu"), (3, 30.0, "eu"))
        .toDF("id", "amt", "region"), sink)

    def location(): java.nio.file.Path = java.nio.file.Paths.get(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("graft_cdcp.orders_p")).location)
    def partFiles(part: String): Map[String, Seq[Byte]] = {
      val d = location().resolve(part).toFile
      if (!d.exists()) Map.empty
      else d.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val euBefore = partFiles("region=eu")
    euBefore should not be empty

    // batch 1 touches ONLY region=us: insert id=4, update id=1
    Files.writeString(inDir.resolve("b1.jsonl"), Seq(
      envelope("c", "null", """{"id": 4, "amt": 40.0, "region": "us"}""", 100),
      envelope("u", """{"id": 1, "amt": 10.5, "region": "us"}""",
        """{"id": 1, "amt": 11.0, "region": "us"}""", 200)
    ).mkString("\n"))
    CdcStream.start(spark, inDir.toString, sink, Seq("id"), ckpt)
      .awaitTermination(120000) shouldBe true

    spark.table("graft_cdcp.orders_p").select("id", "amt", "region").orderBy("id")
      .as[(Int, Double, String)].collect().toSeq shouldBe Seq(
      (1, 11.0, "us"), (2, 20.0, "eu"), (3, 30.0, "eu"), (4, 40.0, "us"))
    // the eu partition was never read or written: same files, same bytes
    partFiles("region=eu") shouldBe euBefore

    // batch 2 deletes every eu row → the partition is dropped, dir included
    Files.writeString(inDir.resolve("b2.jsonl"), Seq(
      envelope("d", """{"id": 2, "amt": 20.0, "region": "eu"}""", "null", 300),
      envelope("d", """{"id": 3, "amt": 30.0, "region": "eu"}""", "null", 400)
    ).mkString("\n"))
    CdcStream.start(spark, inDir.toString, sink, Seq("id"), ckpt)
      .awaitTermination(120000) shouldBe true
    spark.table("graft_cdcp.orders_p").select("id").as[Int].collect()
      .toSeq.sorted shouldBe Seq(1, 4)
    location().resolve("region=eu").toFile.exists() shouldBe false

    // the manifest stays the source of truth through in-place partition
    // rewrites: file set re-listed, row count recomputed from footers
    val manifest = graft.sinks.TableManifest.read(location()).get
    manifest.rowCount shouldBe 2
    manifest.files.map(_.path).toSet shouldBe
      graft.sinks.TableManifest.dataFiles(location())
        .map(p => location().relativize(p).toString).toSet
    manifest.files.map(_.path).foreach(_ should not include "region=eu")

    // the slice predicate prunes the scan at PLANNING time: only the
    // touched partition's files are inputs (a broadcast semi-join slice
    // reads every partition — measured, DPP does not fire here)
    val target = spark.table("graft_cdcp.orders_p")
    val pred = CdcStream.partitionPredicate(Seq("region"),
      Seq(org.apache.spark.sql.Row("us")))
    val files = target.filter(pred).inputFiles
    files should not be empty
    all(files) should include ("region=us")
  }

  // -------------------------------------------------- mssql-style cdc poll ----
  test("MsSqlStyleCdc: op pairing on seqval + watermark advance") {
    val dir = scratchDir("mscdc").toPath
    val url = s"jdbc:derby:$dir/db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      """CREATE TABLE cdc_orders ("__$operation" INT, "__$seqval" BIGINT,
        |id INT, amt DOUBLE)""".stripMargin.replace("\n", " "))
    def ins(op: Int, seq: Long, id: Int, amt: Double): Unit =
      c.createStatement().executeUpdate(
        s"INSERT INTO cdc_orders VALUES ($op, $seq, $id, $amt)")
    ins(2, 1, 1, 10.0)          // insert
    ins(3, 2, 2, 20.0); ins(4, 2, 2, 25.0) // update pair
    ins(1, 3, 9, 90.0)          // delete

    val store = new WatermarkStore(dir.resolve("wm.properties"))
    val spec = JdbcSourceSpec(url = url, table = "cdc_orders")
    val r1 = MsSqlStyleCdc.poll(spark, "orders", spec, store, "shop", "dbo", "orders")
    r1.rows shouldBe 3
    val msgs = r1.messages.collect().sortBy(_.seq)
    msgs(0).isInsert shouldBe true
    msgs(1).isUpdate shouldBe true
    msgs(1).before("amt") shouldBe "20.0"
    msgs(1).after("amt") shouldBe "25.0"
    msgs(2).isDelete shouldBe true
    // watermark is a candidate until the caller applies the batch + commits;
    // an apply failure (no commit) re-delivers the same window
    store.get("orders") shouldBe None
    val r1b = MsSqlStyleCdc.poll(spark, "orders", spec, store, "shop", "dbo", "orders")
    r1b.rows shouldBe 3
    r1b.commit(store, "orders")
    store.get("orders") shouldBe Some("3")

    // next poll: only rows past the watermark
    ins(2, 4, 7, 70.0)
    val r2 = MsSqlStyleCdc.poll(spark, "orders", spec, store, "shop", "dbo", "orders")
    r2.rows shouldBe 1
    r2.messages.collect().head.after("id") shouldBe "7"
    r2.commit(store, "orders")
    store.get("orders") shouldBe Some("4")
    c.close()
  }
}
