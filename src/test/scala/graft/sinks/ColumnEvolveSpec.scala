package graft.sinks

import graft.SparkSpec
import graft.model.{ObjectStoreSpec, PipelineSpecException}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Metadata-only DROP COLUMN / RENAME COLUMN (r14 verdict #4): both are
  * link-all commits — zero data read or written — realized without
  * parquet field IDs: DROP narrows the pinned sidecar schema (old files'
  * extra column simply stops being requested) and records the retired
  * PHYSICAL name so ADD can never resurrect it; RENAME keeps the
  * physical namespace stable forever (sidecar maps logical → physical,
  * writes physicalize, reads — including catalog scans through
  * RefResolveRule's projection — map back). Time travel keeps each
  * version's own shape; a full rewrite resets the mappings.
  */
class ColumnEvolveSpec extends SparkSpec {

  private val ss = spark
  import ss.implicits._

  private def build(tag: String): ObjectStoreSpec = {
    val spec = ObjectStoreSpec(path = scratchDir(tag).toString,
      database = "graft_evolve", table = s"t_$tag")
    val df = (0L until 300L).map(i => (i, i % 7, s"s$i")).toDF("id", "v", "s")
    ObjectStoreSink.replaceTable(spark,
      df.repartitionByRange(3, col("id")), spec)
    spec
  }

  private def sharedInodes(spec: ObjectStoreSpec): Int = {
    val vs = ObjectStoreSink.snapshots(spec)
    val prev = Paths.get(vs(vs.size - 2).path)
    val live = Paths.get(vs.last.path)
    TableManifest.read(prev).get.files.count { e =>
      val b = live.resolve(e.path)
      Files.exists(b) && Files.isSameFile(prev.resolve(e.path), b)
    }
  }

  test("DROP COLUMN is a link-all metadata commit; time travel keeps the " +
      "old shape; resurrection refuses") {
    val spec = build("drop")
    val fq = s"${spec.database}.${spec.table}"
    val r = spark.sql(s"ALTER TABLE $fq DROP COLUMN v").collect().head
    r.getInt(1) shouldBe 3
    sharedInodes(spec) shouldBe 3
    spark.table(fq).columns.toSeq shouldBe Seq("id", "s")
    spark.table(fq).count() shouldBe 300L
    spark.sql(s"SELECT * FROM $fq VERSION AS OF 1").columns.length shouldBe 3
    // INSERT under the narrowed arity
    spark.sql(s"INSERT INTO $fq VALUES (9000, 'x')").collect()
    spark.table(fq).where("id = 9000").count() shouldBe 1L
    // resurrecting the dropped physical name refuses loudly
    val e = intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq ADD COLUMNS (v BIGINT)"))
    e.getMessage should include("retired")
    // a DIFFERENT name still widens fine
    spark.sql(s"ALTER TABLE $fq ADD COLUMNS (w BIGINT)").collect()
    spark.table(fq).columns.toSeq shouldBe Seq("id", "s", "w")
  }

  test("RENAME COLUMN is a link-all metadata commit: physical namespace " +
      "stable, catalog + versioned reads map back, writes physicalize") {
    val spec = build("ren")
    val fq = s"${spec.database}.${spec.table}"
    val preSum = spark.table(fq).agg(sum("v")).head.getLong(0)
    val r = spark.sql(s"ALTER TABLE $fq RENAME COLUMN v TO val").collect()
      .head
    r.getInt(1) shouldBe 3
    sharedInodes(spec) shouldBe 3
    // catalog read: values under the NEW name (RefResolveRule projection)
    spark.table(fq).columns.toSeq shouldBe Seq("id", "val", "s")
    spark.table(fq).agg(sum("val")).head.getLong(0) shouldBe preSum
    spark.sql(s"SELECT sum(val) AS x FROM $fq WHERE val >= 3")
      .head.getLong(0) shouldBe
      (0L until 300L).map(_ % 7).filter(_ >= 3).sum
    // versioned read maps back too
    ObjectStoreSink.readVersion(spark, spec)
      .agg(sum("val")).head.getLong(0) shouldBe preSum
    // time travel keeps the OLD name
    spark.sql(s"SELECT * FROM $fq VERSION AS OF 1").columns.toSeq shouldBe
      Seq("id", "v", "s")
    // zone-map skipping still proves through the rename projection: the
    // Filter sits above RefResolveRule's alias Project, and the rule
    // substitutes the aliases to extract bounds under the PHYSICAL names
    val pruned = spark.table(fq).where("id < 50")
    val reports = pruned.queryExecution.optimizedPlan.collect {
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
    withClue("a range filter on a renamed table must still zone-map-prune: ") {
      reports should not be empty
      reports.head.filesKept should be < reports.head.filesTotal
    }
    pruned.count() shouldBe 50L
    // a write after the rename physicalizes: the fresh file carries the
    // ORIGINAL physical name on disk, and reads still see the logical one
    spark.sql(s"INSERT INTO $fq VALUES (9000, 42, 'x')").collect()
    val live = Paths.get(ObjectStoreSink.snapshots(spec).last.path)
    val freshFiles = TableManifest.read(live).get.files
      .filter(e => Files.exists(live.resolve(e.path)) &&
        TableManifest.read(Paths.get(ObjectStoreSink.snapshots(spec)
          .dropRight(1).last.path)).get.files.forall(_.path != e.path))
    freshFiles should not be empty
    val footerCols = spark.read.parquet(
      live.resolve(freshFiles.head.path).toString).columns.toSeq
    footerCols should contain("v") // physical name, not the logical "val"
    spark.table(fq).where("id = 9000").select("val")
      .head.getLong(0) shouldBe 42L
    // an UPDATE through the logical name lands correctly
    spark.sql(s"UPDATE $fq SET val = val + 100 WHERE id = 9000").collect()
    spark.table(fq).where("id = 9000").select("val")
      .head.getLong(0) shouldBe 142L
    // a full rewrite RESETS the mapping: files now carry the logical name
    spark.sql(s"INSERT OVERWRITE $fq SELECT * FROM $fq").collect()
    val live2 = Paths.get(ObjectStoreSink.snapshots(spec).last.path)
    ObjectStoreSink.sidecarSchema(live2)
      .forall(s => ObjectStoreSink.physMap(s).isEmpty) shouldBe true
    spark.table(fq).agg(sum("val")).head.getLong(0) shouldBe preSum + 142L
  }

  test("guards: partition keys immutable, name clashes and physical " +
      "collisions refuse") {
    val spec = ObjectStoreSpec(path = scratchDir("grd").toString,
      database = "graft_evolve", table = "t_grd", partitionBy = Seq("p"))
    ObjectStoreSink.replaceTable(spark,
      (0L until 60L).map(i => (i, i % 3, s"s$i")).toDF("id", "p", "s"), spec)
    val fq = s"${spec.database}.${spec.table}"
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq DROP COLUMN p"))
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq RENAME COLUMN p TO q"))
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq RENAME COLUMN id TO s"))
    // rename id→tmp, then renaming s→id must refuse: 'id' still lives
    // physically in the linked files
    spark.sql(s"ALTER TABLE $fq RENAME COLUMN id TO tmp").collect()
    val e = intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq RENAME COLUMN s TO id"))
    e.getMessage should include("physical")
    // retype keeps refusing
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq ALTER COLUMN s TYPE INT"))
  }

  private def buildNarrow(tag: String): ObjectStoreSpec = {
    val spec = ObjectStoreSpec(path = scratchDir(tag).toString,
      database = "graft_evolve", table = s"t_$tag")
    val df = (0L until 300L).map(i => (i, i % 7, s"s$i")).toDF("id", "v", "s")
      .select(col("id").cast("int").as("id"),
        col("v").cast("decimal(5,2)").as("v"),
        col("s"), (col("id") % 10).cast("float").as("f"))
    ObjectStoreSink.replaceTable(spark,
      df.repartitionByRange(3, col("id")), spec)
    spec
  }

  test("ALTER COLUMN TYPE is a link-all metadata commit: old files decode " +
      "at their own width, out-of-narrow-range inserts land, time travel " +
      "keeps each version's type") {
    val spec = buildNarrow("wid")
    val fq = s"${spec.database}.${spec.table}"
    val r = spark.sql(s"ALTER TABLE $fq ALTER COLUMN id TYPE BIGINT")
      .collect().head
    r.getString(1) shouldBe "INT"
    r.getString(2) shouldBe "BIGINT"
    r.getInt(3) shouldBe 3
    sharedInodes(spec) shouldBe 3
    // catalog + versioned reads surface the wide type; values intact
    spark.table(fq).schema("id").dataType.sql shouldBe "BIGINT"
    ObjectStoreSink.readVersion(spark, spec)
      .schema("id").dataType.sql shouldBe "BIGINT"
    spark.table(fq).agg(sum("id")).head.getLong(0) shouldBe
      (0L until 300L).sum
    // a value no INT could hold lands through the widened column
    spark.sql(s"INSERT INTO $fq VALUES (${3000000000L}, 1.50, 'big', 0.0)")
      .collect()
    spark.table(fq).where("id > 2147483647").count() shouldBe 1L
    // aggregates over MIXED narrow/wide files (old footers int32, the
    // fresh one int64) — whether answered from metadata or a scan, the
    // result must be exact
    spark.sql(s"SELECT sum(id) AS s, min(id) AS mn, max(id) AS mx FROM $fq")
      .head match { case row =>
        row.getLong(0) shouldBe (0L until 300L).sum + 3000000000L
        row.getLong(1) shouldBe 0L
        row.getLong(2) shouldBe 3000000000L
      }
    // zone maps recorded from narrow files still prune wide predicates
    val pruned = spark.table(fq).where("id < 50")
    pruned.count() shouldBe 50L
    // time travel keeps the narrow shape
    spark.sql(s"SELECT * FROM $fq VERSION AS OF 1")
      .schema("id").dataType.sql shouldBe "INT"
    // decimal + float widen too; scale-widened decimals keep exact values
    spark.sql(s"ALTER TABLE $fq ALTER COLUMN v TYPE DECIMAL(12,4)").collect()
    spark.sql(s"ALTER TABLE $fq ALTER COLUMN f TYPE DOUBLE").collect()
    spark.table(fq).schema("v").dataType.sql shouldBe "DECIMAL(12,4)"
    spark.table(fq).where("id = 3000000000").select("v")
      .head.getDecimal(0) shouldBe new java.math.BigDecimal("1.5000")
    spark.table(fq).where("id < 300").agg(sum("f")).head.getDouble(0) shouldBe
      (0L until 300L).map(i => (i % 10).toDouble).sum
    // COW UPDATE over the widened table: rewritten files land WIDE while
    // untouched files stay narrow, under the one logical type
    spark.sql(s"UPDATE $fq SET v = 9999999.9999 WHERE id = 0").collect()
    spark.table(fq).where("id = 0").select("v").head.getDecimal(0) shouldBe
      new java.math.BigDecimal("9999999.9999")
    spark.table(fq).count() shouldBe 301L
  }

  test("ALTER COLUMN TYPE guards: narrowing, lossy and partition-key " +
      "promotions refuse; widening a renamed column keeps its physical name") {
    val spec = buildNarrow("widg")
    val fq = s"${spec.database}.${spec.table}"
    // narrowing / lossy / foreign promotions refuse loudly
    for (bad <- Seq("ALTER COLUMN id TYPE SMALLINT", // narrowing
        "ALTER COLUMN s TYPE INT", // string retype
        "ALTER COLUMN v TYPE DECIMAL(5,1)", // scale shrink drops digits
        "ALTER COLUMN v TYPE DECIMAL(4,2)", // precision shrink
        "ALTER COLUMN f TYPE FLOAT")) { // no-op
      val e = intercept[PipelineSpecException](
        spark.sql(s"ALTER TABLE $fq $bad"))
      e.getMessage should (include("lossless") or include("already"))
    }
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq ALTER COLUMN nope TYPE BIGINT"))
    // long -> double is lossy above 2^53: must refuse
    spark.sql(s"ALTER TABLE $fq ALTER COLUMN id TYPE BIGINT").collect()
    intercept[PipelineSpecException](
      spark.sql(s"ALTER TABLE $fq ALTER COLUMN id TYPE DOUBLE"))
    // a partitioned table refuses key promotion
    val pspec = ObjectStoreSpec(path = scratchDir("widp").toString,
      database = "graft_evolve", table = "t_widp", partitionBy = Seq("p"))
    ObjectStoreSink.replaceTable(spark,
      (0L until 60L).map(i => (i, i % 3, s"s$i")).toDF("id", "p", "s")
        .select(col("id"), col("p").cast("int").as("p"), col("s")), pspec)
    intercept[PipelineSpecException](spark.sql(
      s"ALTER TABLE ${pspec.database}.${pspec.table} ALTER COLUMN p TYPE BIGINT"))
    // widen AFTER a rename: the physical-name mapping must ride along
    spark.sql(s"ALTER TABLE $fq RENAME COLUMN v TO val").collect()
    spark.sql(s"ALTER TABLE $fq ALTER COLUMN val TYPE DECIMAL(12,2)")
      .collect()
    spark.table(fq).schema("val").dataType.sql shouldBe "DECIMAL(12,2)"
    spark.table(fq).agg(sum("val")).head.getDecimal(0).longValue shouldBe
      (0L until 300L).map(_ % 7).sum
  }

  test("DROP + RENAME compose with reference mode and COW DML") {
    val spec = build("refevo")
    val fq = s"${spec.database}.${spec.table}"
    val prev = TableManifest.publisher
    TableManifest.publisher = ReferenceCommitPublisher
    try {
      spark.sql(s"ALTER TABLE $fq RENAME COLUMN v TO val").collect()
      spark.sql(s"ALTER TABLE $fq DROP COLUMN s").collect()
      val live = Paths.get(ObjectStoreSink.snapshots(spec).last.path)
      TableManifest.dataFiles(live) shouldBe empty // zero bytes written
      spark.table(fq).columns.toSeq shouldBe Seq("id", "val")
      spark.table(fq).count() shouldBe 300L
      // COW DELETE over the renamed+narrowed reference table
      spark.sql(s"DELETE FROM $fq WHERE id < 50").collect()
      spark.table(fq).count() shouldBe 250L
      spark.table(fq).agg(sum("val")).head.getLong(0) shouldBe
        (50L until 300L).map(_ % 7).sum
    } finally TableManifest.publisher = prev
  }
}
