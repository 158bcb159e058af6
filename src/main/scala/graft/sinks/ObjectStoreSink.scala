package graft.sinks

import graft.model.{ObjectStoreSpec, PipelineSpecException}
import graft.obs.Obs
import graft.operators.MergeUpsert
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Optimistic-concurrency conflict: `replaceTable` was asked to commit on
  * top of `expectVersion`, but another writer committed first. Thrown by
  * content-preserving maintenance rewrites (compaction, MV adoption) whose
  * result is only valid if the version they read is still the latest —
  * committing anyway would resurrect the stale content OVER the concurrent
  * writer's commit (a lost update). The versioned-dir analogue of an ACID
  * table format's rewrite-conflict abort (Iceberg RewriteFiles validation).
  * Within one driver the check rides the per-table commit lock; a
  * cross-driver object-store deployment backs the same compare-and-commit
  * with its [[CommitPublisher]]'s conditional-PUT primitives
  * (`If-Match`/`ifGenerationMatch`), exactly like the commit log.
  */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Data-lake sink (K1/K2/K3/M5): partitioned parquet (or csv/json/orc) under
  * `spec.path/<table>`, registered in the Spark session catalog so the full
  * SQL surface works over what the pipeline lands — the local equivalent of
  * the reference's S3+Glue+Athena triple (ObjectStoreLoader.scala:49-209,
  * transform ObjectStoreUtil.scala:139-209).
  *
  * Semantics:
  *   - `keyFields` empty  → plain append/overwrite `partitionBy` write.
  *   - `keyFields` set    → MERGE upsert: existing table full-outer-merged
  *     with the batch on the keys (IcebergUtil.scala:124-157 semantics),
  *     then committed via a versioned-directory swap (see [[replaceTable]])
  *     — the plain-parquet stand-in for an ACID table-format commit, per
  *     the reference's `writeToTemporaryLocation` discipline.
  *   - `deleteBeforeWrite` → truncate the table dir first (K1 flag).
  *
  * Scale: the merge is one co-partitioned shuffle on the keys; the commit is
  * a metadata repoint. Partition pruning works through the catalog
  * (partitionBy columns become directory keys). On a real deployment the
  * versioned swap is replaced by an Iceberg/Delta MERGE commit — the plan
  * shape is identical.
  */
object ObjectStoreSink {

  /** One commit at a time per table (within this JVM): concurrent merges
    * would read the same base version and both pick the same next version
    * dir — last-writer-wins lost updates and a dir collision. The watcher
    * pool and the HTTP front door can both trigger loads concurrently, so
    * the whole read→merge→commit sequence serializes here. Locks are
    * reentrant (replaceTable under write() re-enters). Cross-DRIVER
    * serialization is the ACID table format's job — the same seam where
    * Iceberg/Delta replace the versioned-dir commit.
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockObj(tableDir: Path): Object = {
    // Key on the ABSOLUTE NORMALIZED form: a relative-vs-absolute or
    // `a/../b` spelling of the same table dir must map to the same lock
    // object, or two spellings silently mutually-exclude nothing and the
    // CommitLog lost-update race comes back (r7 ADVICE). Lexical
    // normalization only — toRealPath would key the SAME spelling to
    // different locks before vs after the dir exists.
    tableLocks.computeIfAbsent(
      tableDir.toAbsolutePath.normalize.toString, _ => new Object)
  }
  private def lockFor(spec: ObjectStoreSpec): Object =
    lockObj(Paths.get(spec.path, spec.database, spec.table))

  /** Run `body` under the same per-table commit lock `write()` takes — for
    * maintenance callers (Vacuum) that mutate table metadata outside the
    * sink's own entry points. CommitLog.record/prune is a non-atomic
    * read-modify-write of `_commits.json`; unlocked, a vacuum racing a
    * concurrent commit could republish a log missing the just-recorded
    * version.
    */
  private[graft] def withTableLock[T](tableDir: Path)(body: => T): T =
    lockObj(tableDir).synchronized(body)

  def write(spark: SparkSession, df: DataFrame, spec: ObjectStoreSpec): String =
    lockFor(spec).synchronized {
      val fq = s"${spec.database}.${spec.table}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${spec.database}")
      val tableDir = Paths.get(spec.path, spec.database, spec.table)
      Files.createDirectories(tableDir.getParent)

      if (spec.deleteBeforeWrite) {
        // drop the catalog entry even when the target dir is absent: the
        // entry may point at a DIFFERENT (deleted/moved) location, and
        // "start clean" must not leave a stale pointer that the subsequent
        // append path would resolve and stat
        spark.sql(s"DROP TABLE IF EXISTS $fq")
        if (Files.exists(tableDir)) deleteTree(tableDir)
      }

      val exists = spark.catalog.tableExists(fq)
      if (spec.keyFields.nonEmpty && exists) mergeInto(spark, df, spec, fq)
      else plainWrite(spark, df, spec, fq, exists)
      fq
    }

  private def plainWrite(spark: SparkSession, df: DataFrame, spec: ObjectStoreSpec,
      fq: String, exists: Boolean): Unit = {
    val mode = spec.writeMode.toLowerCase match {
      case "overwrite" => SaveMode.Overwrite
      case "append" | "" => SaveMode.Append
      case other => throw new PipelineSpecException(s"unknown writeMode '$other'")
    }
    if (!exists || mode == SaveMode.Overwrite) {
      // table creation and whole-table overwrite both go through the
      // versioned commit — data always lives in a v-NNNNNN dir, so every
      // later swap is a metadata repoint and no stale files linger at root
      replaceTable(spark, df, spec): Unit
    } else {
      guardPartitionKeysImmutable(spark, fq, spec)
      // in-place appends write the batch's own (logical) column names into
      // the live dir — unsound once a metadata-only RENAME made the
      // physical namespace diverge; those tables take the versioned
      // link-append path (SQL INSERT) instead
      val live = currentLocation(spark, fq)
      if (sidecarSchema(live).exists(s => physMap(s).nonEmpty))
        throw new PipelineSpecException(
          s"$fq has renamed columns (metadata-only evolution): in-place " +
            "appends would write the wrong physical column names — use " +
            "INSERT INTO (the versioned link-append commit)")
      // schema evolution (reference DatasetObjectStoreUtil.scala:71-100):
      // a changed destination schema re-creates the catalog entry — a new
      // "table version" over the same location. Old files stay; parquet
      // schema-on-read surfaces their missing columns as NULL.
      if (schemaChanged(spark, fq, df, spec)) {
        val loc = currentLocation(spark, fq)
        spark.sql(s"DROP TABLE IF EXISTS $fq")
        createExternal(spark, fq, spec, partitionsLast(df, spec), loc)
        repairTable(spark, fq, spec)
      }
      // appending to a known table: insertInto resolves by position against
      // the catalog schema (partition columns last, like the reference's
      // reordered INSERT...SELECT, ObjectStoreLoader.scala:183-201)
      val cat = spark.table(fq).columns
      tsMicros(df)
        .select(cat.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        .write.mode(mode).insertInto(fq)
      // the insert ran under the write-scoped CLONE session; the caller's
      // session still caches the pre-append file listing — invalidate it
      spark.catalog.refreshTable(fq)
      refreshManifest(spark, fq, spec)
    }
  }

  /** Republish the live version's manifest after an in-place write (append
    * / CDC dynamic partition overwrite) so the manifest stays the source of
    * truth for the committed file set. Serialized per table by the caller's
    * lock (write()) or taken here for external callers (CdcStream).
    */
  def refreshManifest(spark: SparkSession, fq: String, spec: ObjectStoreSpec,
      overwrotePartitions: Set[String] = Set.empty): Unit =
    lockFor(spec).synchronized {
      val loc = currentLocation(spark, fq)
      val hash = schemaHash(spark.table(fq))
      val m = TableManifest.refresh(loc, spec.fileFormat, Some(hash),
          overwrotePartitions)
        .getOrElse(
          // legacy manifest-less live dir (pre-manifest table, appended to
          // after upgrade): adopt it into the protocol on first touch
          TableManifest.commit(loc, hash, spec.fileFormat))
      // in-place writes add/replace files under NEW names (never mutate a
      // data file), so a stale sidecar is sound — uncovered files are
      // always kept; rebuilding here restores full coverage
      if (spec.bloomColumns.nonEmpty)
        BloomIndex.build(spark, loc, spec.fileFormat,
          spec.bloomColumns.filterNot(spec.partitionBy.contains), m)
      // keep the commit log covering the live version (legacy tables gain
      // a log the first time they are touched)
      loc.getFileName.toString match {
        case VersionDir(n) => CommitLog.record(loc.getParent, n.toInt)
        case _ => ()
      }
    }

  /** Field names or types differ from the registered table (order-blind on
    * names, partition reorder ignored) → new table version needed.
    */
  private def schemaChanged(spark: SparkSession, fq: String, df: DataFrame,
      spec: ObjectStoreSpec): Boolean = {
    val cat = spark.table(fq).schema
    val incoming = partitionsLast(df, spec).schema
    cat.fields.map(f => (f.name, f.dataType)).toSeq !=
      incoming.fields.map(f => (f.name, f.dataType)).toSeq
  }

  private def partitionsLast(df: DataFrame, spec: ObjectStoreSpec): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (parts, data) = df.columns.partition(spec.partitionBy.contains)
    df.select((data ++ parts).map(col).toIndexedSeq: _*)
  }

  /** MERGE the batch into the existing table, then swap table data via a
    * staging dir (plain parquet has no transactional overwrite-while-read).
    */
  private def mergeInto(spark: SparkSession, batch: DataFrame, spec: ObjectStoreSpec,
      fq: String): Unit = {
    val target = spark.table(fq)
    // align batch to the table schema (by name, cast to table types)
    val aligned = batch.select(target.schema.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    replaceTable(spark, MergeUpsert(target, aligned, spec.keyFields), spec)
  }

  /** Replace a table's contents with `df` (which may READ the same table —
    * e.g. a merge result or a CDC-applied image), without readers ever
    * observing a missing table or a half-written directory. Versioned-dir
    * commit, the plain-parquet stand-in for an ACID table-format snapshot
    * commit (reference IcebergUtil.scala:28-157):
    *
    *   1. write the new image to `tableDir/v-NNNNNN` (the live table is
    *      untouched while the write runs — a crash here leaves an orphan
    *      version dir, cleaned up by the next successful commit);
    *   2. repoint the catalog — `ALTER TABLE ... SET LOCATION` when the
    *      schema is unchanged (one metadata op; a concurrent reader always
    *      resolves the table), DROP+CREATE only on schema change;
    *   3. retire old versions, keeping the previous one as a grace copy for
    *      readers that resolved the old location mid-swap.
    */
  def replaceTable(spark: SparkSession, df: DataFrame, spec: ObjectStoreSpec,
      txn: Option[TableManifest.TxnStamp] = None,
      expectVersion: Option[Int] = None): String =
    lockFor(spec).synchronized {
      val fq = s"${spec.database}.${spec.table}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${spec.database}")
      val tableDir = Paths.get(spec.path, spec.database, spec.table)
      Files.createDirectories(tableDir)
      // optimistic CAS for content-preserving rewrites: verified INSIDE the
      // commit lock, so "expected is still latest" holds through publish
      expectVersion.foreach { ev =>
        val latest = (versionDirs(tableDir).filter(TableManifest.isCommitted)
          .map(versionNumber) ++ CommitLog.read(tableDir).getOrElse(Nil))
          .maxOption
        if (!latest.contains(ev)) throw new ConcurrentCommitException(
          s"$fq: expected to commit on top of version $ev but latest is " +
            s"${latest.getOrElse("<none>")} — a concurrent writer committed " +
            "first; aborting instead of resurrecting stale content")
      }
      // refuse a partition-key change BEFORE any data is written: repoint
      // re-checks, but failing there would leave an orphan committed
      // version the catalog never points at
      if (spark.catalog.tableExists(fq))
        guardPartitionKeysImmutable(spark, fq, spec)
      val next = nextVersionDir(tableDir)
      val sw0 = tsMicros(df).write
        .mode(SaveMode.Overwrite).format(spec.fileFormat)
        .options(versionDirWriteOptions)
      val sw = if (spec.partitionBy.nonEmpty) sw0.partitionBy(spec.partitionBy: _*) else sw0
      // materialize BEFORE touching the live table
      Obs.span("replaceTable.save")(sw.save(next.toString))
      // an EMPTY partitioned image writes no data files at all, so the
      // version dir is schema-less on disk (TRUNCATE, whole-table DELETE,
      // a delete matching every row). Persist the schema as a sidecar and
      // pin it on the read — absence of rows must not mean absence of a
      // table shape. Written BEFORE the manifest: the commit contract
      // (manifest-last) keeps a crash in between invisible.
      val emptyImage = TableManifest.dataFiles(next).isEmpty
      val reread = Obs.span("replaceTable.reread")(
        if (!emptyImage) spark.read.format(spec.fileFormat).load(next.toString)
        else {
          val shape = partitionsLast(df, spec).schema
          TableManifest.publisher.publish(next, SchemaSidecarName, shape.json)
          spark.read.schema(shape).format(spec.fileFormat).load(next.toString)
        })
      // the manifest IS the commit: one atomic publish after every data file
      // is fully written — a version dir without it is an uncommitted crash
      // leftover, invisible to recovery/vacuum (TableManifest protocol)
      val manifest0 = Obs.span("replaceTable.manifest")(
        TableManifest.commit(next, schemaHash(reread), spec.fileFormat, txn))
      val sumCols = spec.sumColumns.filterNot(spec.partitionBy.contains)
      val bloomCols = spec.bloomColumns.filterNot(spec.partitionBy.contains)
      // exact per-file sums republish the manifest BEFORE the repoint, so
      // readers never observe a sum-less window on a sum-maintained table;
      // the auxiliary bloom sidecar publishes AFTER the manifest — a crash
      // in between leaves a committed version that simply doesn't
      // bloom-prune. A table maintaining BOTH runs ONE distributed pass
      // over the fresh files computing the sum and Bloom aggregates
      // together (guide §1.2: remove whole passes before tuning inside
      // them) — the publish order above is unchanged, only the scan fuses.
      if (sumCols.nonEmpty && bloomCols.nonEmpty && manifest0.files.nonEmpty)
        Obs.span("replaceTable.sums+blooms")(
          fusedEnrich(spark, next, spec.fileFormat, sumCols, bloomCols,
            manifest0)): Unit
      else {
        val m1 =
          if (sumCols.nonEmpty)
            Obs.span("replaceTable.sums")(
              TableManifest.enrichSums(spark, next, spec.fileFormat,
                sumCols, manifest0))
          else manifest0
        if (bloomCols.nonEmpty)
          Obs.span("replaceTable.blooms")(
            BloomIndex.build(spark, next, spec.fileFormat, bloomCols, m1))
      }
      // ...and the table-root commit log records the version, so "latest
      // committed" never depends on directory-listing order/completeness
      CommitLog.record(tableDir, versionNumber(next))
      Obs.span("replaceTable.repoint")(
        repoint(spark, fq, spec, next, reread))
      // stamp the versions this commit just replaced: retirement grace
      // measures from the supersede TIME, not the dir's write mtime
      versionDirs(tableDir).filter(_ != next).filter(TableManifest.isCommitted)
        .foreach(TableManifest.markSuperseded)
      Obs.span("replaceTable.retire")(retireOldVersions(tableDir, keep = 2))
      fq
    }

  /** One distributed pass computing BOTH the exact per-file sums and the
    * per-file Bloom filters of a freshly committed version dir — the
    * fusion of [[TableManifest.enrichSums]] and [[BloomIndex.build]] for
    * tables that maintain both (each alone would scan the same files
    * again). Decision logic, refusal guards, fold and publish order are
    * the two modules' own (their plan/apply halves); only the scan is
    * shared. Either side declining (unsizable, no qualifying columns)
    * degrades to the other side's single pass.
    */
  private def fusedEnrich(spark: SparkSession, versionDir: Path,
      fileFormat: String, sumCols: Seq[String], bloomCols: Seq[String],
      m: TableManifest.Manifest): TableManifest.Manifest = {
    import org.apache.spark.sql.functions.input_file_name
    val df = spark.read.format(fileFormat).load(versionDir.toString)
    val sp = TableManifest.planSums(df, sumCols,
      TableManifest.sumTargets(m, onlyRel = None))
    val bp = BloomIndex.planBuild(df, versionDir, bloomCols, m)
    (sp, bp) match {
      case (Some(s), Some(b)) =>
        val aggs = s.aggs ++ b.aggs
        val rows = df.groupBy(input_file_name().as("_file"))
          .agg(aggs.head, aggs.tail: _*).collect()
        // manifest-with-sums republishes FIRST, shards after — the same
        // crash contract as the separate passes
        val enriched = TableManifest.applySums(versionDir, m, s, rows,
          offset = 0)
        BloomIndex.publishShards(versionDir, b, rows, offset = s.aggs.size)
        enriched
      case (Some(s), None) =>
        val rows = df.groupBy(input_file_name().as("_file"))
          .agg(s.aggs.head, s.aggs.tail: _*).collect()
        TableManifest.applySums(versionDir, m, s, rows, offset = 0)
      case (None, Some(b)) =>
        val rows = df.groupBy(input_file_name().as("_file"))
          .agg(b.aggs.head, b.aggs.tail: _*).collect()
        BloomIndex.publishShards(versionDir, b, rows, offset = 0)
        m
      case (None, None) => m
    }
  }

  /** Link-append commit: a new version whose data is the previous
    * snapshot PLUS `newRows`, at the cost of writing ONLY the new rows.
    * The previous version's data files are immutable by the versioned-dir
    * contract, so they are HARD-LINKED into the next version dir at the
    * same relative path (same inode, O(files) metadata ops, zero data
    * copied — the POSIX realization of an ACID table format's "new
    * snapshot references old data files"; on an object store the
    * [[CommitPublisher]] backend would record cross-version file
    * references in the manifest instead). An INSERT INTO a 100 TB table
    * therefore costs O(new rows + file count), not a 100 TB rewrite —
    * the property that makes the SQL INSERT verb usable at scale.
    *
    * Everything else is the full commit discipline: CAS on the expected
    * version inside the table lock, manifest published only after every
    * file exists ([[TableManifest.commitCarried]] — linked files keep
    * their exact recorded stats/row counts, only new footers are read),
    * Bloom sidecar shards carried forward and EXTENDED over just the new
    * files ([[BloomIndex.carryAndExtend]]), commit-log record, catalog
    * repoint, supersede stamps, retention. Filesystems without hard-link
    * support (or cross-device table moves) degrade to a per-file copy —
    * correct, just not O(1) per file. A prior version whose manifest or
    * files have drifted degrades to a full [[replaceTable]] rewrite of
    * union(old, new): the append is an optimization, never a correctness
    * dependency.
    *
    * `newRows` must match the live schema exactly (names and types, in
    * order) — callers align/cast first; this guard refuses rather than
    * letting parquet schema-on-read paper over a drifted batch.
    */
  /** Accounting of a link-based commit ([[appendVersion]] /
    * [[cowVersion]]): how many prior files were carried by hard link and
    * whether the commit degraded to a full [[replaceTable]] rewrite (a
    * drifted prior version — missing manifest or vanished file). The
    * report is what lets SQL commands tell the user what REALLY happened
    * instead of assuming the links landed (r13 ADVICE #4).
    */
  final case class LinkCommitReport(fq: String, filesLinked: Int,
      filesRewritten: Int, degraded: Boolean)

  def appendVersion(spark: SparkSession, newRows: DataFrame,
      spec: ObjectStoreSpec, expectVersion: Option[Int] = None,
      txn: Option[TableManifest.TxnStamp] = None): LinkCommitReport =
    lockFor(spec).synchronized {
      val fq = s"${spec.database}.${spec.table}"
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to append to"))
      expectVersion.foreach { ev =>
        if (snap.version != ev) throw new ConcurrentCommitException(
          s"$fq: expected to append on top of version $ev but latest is " +
            s"${snap.version} — a concurrent writer committed first")
      }
      val prevRead = readVersion(spark, spec, Some(snap.version))
      guardSchemaAligned(fq, prevRead, newRows, "appendVersion")
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = None,
        fresh = newRows,
        fullImage = prevRead.unionByName(newRows), txn)
    }

  /** Copy-on-write commit: the next version is `carried` (files of the
    * LIVE snapshot proven untouched by the statement — hard-linked in
    * with their manifest stats carried verbatim) plus the freshly-written
    * image of `freshRows` (the rewritten content of the possibly-touched
    * files). This is what makes a SELECTIVE SQL DELETE / UPDATE / MERGE
    * cost O(touched files + batch) instead of an O(table) rewrite — the
    * Iceberg/Delta copy-on-write discipline (the reference shipped its
    * DELETE/MERGE to Athena Iceberg, IcebergUtil.scala:90-157, which
    * rewrites only affected files) realized on the versioned-dir
    * protocol. The CALLER owns the evidence: every entry in `carried`
    * must be provably untouched by the statement (zone-map / Bloom
    * disjointness — [[graft.plans.ZoneMapScanRule.splitByPredicate]]),
    * and `freshRows` must be the exact post-statement content of the
    * remaining files. A drifted prior version degrades to a full rewrite
    * of `fullImage` — the optimization is never a correctness dependency.
    */
  def cowVersion(spark: SparkSession, freshRows: DataFrame,
      spec: ObjectStoreSpec, carried: Seq[TableManifest.FileEntry],
      fullImage: => DataFrame, expectVersion: Option[Int] = None,
      txn: Option[TableManifest.TxnStamp] = None): LinkCommitReport =
    lockFor(spec).synchronized {
      val fq = s"${spec.database}.${spec.table}"
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to rewrite"))
      expectVersion.foreach { ev =>
        if (snap.version != ev) throw new ConcurrentCommitException(
          s"$fq: expected to commit on top of version $ev but latest is " +
            s"${snap.version} — a concurrent writer committed first")
      }
      val prevRead = readVersion(spark, spec, Some(snap.version))
      guardSchemaAligned(fq, prevRead, freshRows, "cowVersion")
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = Some(carried),
        fresh = freshRows, fullImage = fullImage, txn)
    }

  /** Metadata-only schema evolution: commit the NEXT version as every
    * prior data file HARD-LINKED verbatim plus a `_schema.json` sidecar
    * pinning the WIDENED schema — zero data read, zero data written,
    * O(files) metadata ops whatever the table size (the Iceberg/Delta
    * "schema evolution is a metadata operation" discipline; Spark's v1
    * ALTER would instead mutate the catalog schema behind the manifest).
    * Parquet schema-on-read then surfaces the added columns as NULL for
    * every linked file, while later writes (COW DML, link-appends)
    * carry the sidecar forward so mixed old/new files always read under
    * the pinned shape. Added columns are forced nullable and are
    * inserted BEFORE the partition columns (datasource tables require
    * partition columns last). Time travel is unaffected: each version
    * reads under its own sidecar (or schema-on-read when none). A
    * drifted prior version degrades to a full rewrite of the widened
    * image — evolution is never a correctness dependency.
    */
  def evolveSchema(spark: SparkSession, spec: ObjectStoreSpec,
      addCols: org.apache.spark.sql.types.StructType): LinkCommitReport =
    lockFor(spec).synchronized {
      import org.apache.spark.sql.functions.{col, lit}
      import org.apache.spark.sql.types.StructType
      val fq = s"${spec.database}.${spec.table}"
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to evolve"))
      val prevRead = readVersion(spark, spec, Some(snap.version))
      val clash = addCols.fieldNames.filter(n =>
        prevRead.columns.exists(_.equalsIgnoreCase(n)))
      if (clash.nonEmpty) throw new PipelineSpecException(
        s"ADD COLUMNS on $fq: column(s) already exist: ${clash.mkString(", ")}")
      // resurrection guard: linked OLD files still physically carry every
      // column a metadata-only DROP retired (and every pre-rename name) —
      // re-adding such a name would silently resurface the old values
      // through schema-on-read. A full rewrite (CREATE OR REPLACE) clears
      // the physical namespace and lifts the restriction.
      val retired = droppedPhysNames(Paths.get(snap.path)) ++
        sidecarSchema(Paths.get(snap.path)).toSeq
          .flatMap(s => physMap(s).values)
      val resurrect = addCols.fieldNames.filter(n =>
        retired.exists(_.equalsIgnoreCase(n)))
      if (resurrect.nonEmpty) throw new PipelineSpecException(
        s"ADD COLUMNS on $fq: ${resurrect.mkString(", ")} is a retired " +
          "PHYSICAL column name still present in linked data files — " +
          "adding it back would resurrect dropped values; pick another " +
          "name or rewrite the table (CREATE OR REPLACE … AS SELECT)")
      val (dataF, partF) = prevRead.schema.fields.partition(f =>
        !spec.partitionBy.exists(_.equalsIgnoreCase(f.name)))
      val widened = StructType(
        dataF ++ addCols.fields.map(_.copy(nullable = true)) ++ partF)
      val fresh = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], widened)
      def fullImage: DataFrame = {
        val withCols = addCols.fields.foldLeft(prevRead)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        withCols.select(widened.fieldNames.map(col).toIndexedSeq: _*)
      }
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = None,
        fresh = fresh, fullImage = fullImage, txn = None,
        pinSchema = Some(widened), freshIsEmpty = true)
    }

  /** The logical schema a metadata-only evolution commit starts from:
    * the live version's pinned sidecar (field metadata intact — physical
    * name mappings ride on it) or schema-on-read for never-pinned tables,
    * with partition columns last either way.
    */
  private def logicalShape(spark: SparkSession, spec: ObjectStoreSpec,
      snap: Snapshot): org.apache.spark.sql.types.StructType =
    sidecarSchema(Paths.get(snap.path)).getOrElse(
      readVersion(spark, spec, Some(snap.version)).schema)

  /** Metadata-only `DROP COLUMN`: commit the next version as every prior
    * file carried verbatim plus a `_schema.json` sidecar pinning the
    * NARROWED shape — the column simply stops being read (parquet
    * projects the requested subset; files never rewrite), the discipline
    * of the reference's new-table-version-on-change evolution model
    * (DatasetObjectStoreUtil.scala:71-100) with Iceberg's drop-is-
    * metadata economics. The retired PHYSICAL name is recorded in the
    * `_evolution.json` sidecar so a later ADD COLUMNS cannot silently
    * resurrect the old values. Time travel keeps each version's shape.
    */
  def dropColumn(spark: SparkSession, spec: ObjectStoreSpec,
      name: String): LinkCommitReport =
    lockFor(spec).synchronized {
      import org.apache.spark.sql.types.StructType
      val fq = s"${spec.database}.${spec.table}"
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to evolve"))
      val shape = logicalShape(spark, spec, snap)
      val field = shape.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new PipelineSpecException(
          s"DROP COLUMN on $fq: no column '$name'"))
      if (spec.partitionBy.exists(_.equalsIgnoreCase(name)))
        throw new PipelineSpecException(
          s"DROP COLUMN on $fq: '$name' is a partition key — partition " +
            "keys are immutable (reference DatasetValidatorUtil.scala:186-199)")
      val narrowed = StructType(shape.fields.filterNot(_ eq field))
      if (!narrowed.fields.exists(f =>
          !spec.partitionBy.exists(_.equalsIgnoreCase(f.name))))
        throw new PipelineSpecException(
          s"DROP COLUMN on $fq: cannot drop the last data column")
      val fresh = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], narrowed)
      def fullImage: DataFrame =
        readVersion(spark, spec, Some(snap.version)).drop(field.name)
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = None,
        fresh = fresh, fullImage = fullImage, txn = None,
        pinSchema = Some(narrowed), dropAlso = Set(physName(field)),
        freshIsEmpty = true)
    }

  /** Metadata-only `RENAME COLUMN`: the next version carries every prior
    * file verbatim and pins a sidecar whose field keeps its PHYSICAL
    * name as metadata ([[PhysNameKey]]) — files are NEVER rewritten for a
    * rename, so the physical namespace is stable forever: later writes
    * physicalize the fresh batch ([[toPhysical]]) and every read maps
    * back ([[toLogical]]; catalog scans via
    * [[graft.plans.RefResolveRule]]'s rename projection). This is the
    * no-field-IDs realization of Iceberg's rename-is-metadata evolution —
    * the reference's model creates a new table version on ANY name change
    * (DatasetObjectStoreUtil.scala:71-100). Retype still refuses.
    */
  def renameColumn(spark: SparkSession, spec: ObjectStoreSpec,
      from: String, to: String): LinkCommitReport =
    lockFor(spec).synchronized {
      import org.apache.spark.sql.types.{MetadataBuilder, StructType}
      val fq = s"${spec.database}.${spec.table}"
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to evolve"))
      val shape = logicalShape(spark, spec, snap)
      val field = shape.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new PipelineSpecException(
          s"RENAME COLUMN on $fq: no column '$from'"))
      if (spec.partitionBy.exists(_.equalsIgnoreCase(from)))
        throw new PipelineSpecException(
          s"RENAME COLUMN on $fq: '$from' is a partition key — partition " +
            "keys are immutable")
      if (shape.fields.exists(_.name.equalsIgnoreCase(to)))
        throw new PipelineSpecException(
          s"RENAME COLUMN on $fq: target name '$to' already exists")
      // the physical namespace must stay collision-free: a retired
      // (dropped or pre-rename) physical name still lives in linked files
      val physTaken = shape.fields.map(physName).toSet ++
        droppedPhysNames(Paths.get(snap.path))
      if (physTaken.exists(_.equalsIgnoreCase(to)) &&
          !physName(field).equalsIgnoreCase(to))
        throw new PipelineSpecException(
          s"RENAME COLUMN on $fq: '$to' collides with a physical column " +
            "name still present in linked data files — pick another name " +
            "or rewrite the table (CREATE OR REPLACE … AS SELECT)")
      val renamed = field.copy(name = to,
        metadata = new MetadataBuilder().withMetadata(field.metadata)
          .putString(PhysNameKey, physName(field)).build())
      val pinned = StructType(shape.fields.map(f =>
        if (f eq field) renamed else f))
      val fresh = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], pinned)
      def fullImage: DataFrame = readVersion(spark, spec, Some(snap.version))
        .withColumnRenamed(field.name, to)
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = None,
        fresh = fresh, fullImage = fullImage, txn = None,
        pinSchema = Some(pinned), freshIsEmpty = true)
    }

  /** The lossless type promotions a metadata-only retype may take —
    * exactly the set Spark 4's parquet readers decode natively when the
    * requested schema is wider than a file's footer (the machinery
    * Delta's type widening rides, SPARK-40876): integral up-casts, float
    * → double, integral → double (exact: |int| < 2^53), integral →
    * decimal with enough integer digits, and decimal precision/scale
    * widening that can never drop digits. Everything else — narrowing,
    * long → double (lossy above 2^53), string re-types — refuses: files
    * are never rewritten for a retype, so the promotion must hold for
    * every value any linked file could carry.
    */
  private[graft] def safeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Int = dt match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case _ => Int.MaxValue
    }
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f @ (ByteType | ShortType | IntegerType), d: DecimalType) =>
        // integer-annotated int32 decodes as unscaled decimal only at
        // scale 0; the precision must cover the source's full range
        d.scale == 0 && d.precision >= intDigits(f)
      case (f: DecimalType, t: DecimalType) =>
        (t.precision - t.scale) >= (f.precision - f.scale) &&
          t.scale >= f.scale && (t.precision, t.scale) != (f.precision, f.scale)
      case _ => false
    }
  }

  /** Metadata-only `ALTER COLUMN … TYPE`: commit the next version as
    * every prior file carried verbatim with a sidecar pinning the WIDENED
    * type — files are NEVER rewritten for a safe promotion, because the
    * parquet reader itself up-casts each file's narrower footer type to
    * the requested schema (probed on this Spark: byte/short/int → the
    * wider integrals and double, float → double, int → decimal(p≥10,0),
    * decimal precision/scale widening). Later writes land physically
    * WIDE; mixed-width files co-exist forever under the one logical type,
    * each decoded at its own footer width. Per-file zone-map/Bloom
    * evidence stays sound unchanged: column stats are self-describing
    * (own type tag + scale) and Bloom shards hash probes at their
    * recorded BUILD-side type, refusing keys that don't convert
    * losslessly. Unsafe promotions refuse ([[safeWidening]]) — the
    * reference's model would instead rewrite a new table version on any
    * type change (DatasetObjectStoreUtil.scala:71-100). Parquet only:
    * ORC's reader promotion matrix is not probed, so ORC tables refuse
    * rather than risk a wrong decode.
    */
  def alterColumnType(spark: SparkSession, spec: ObjectStoreSpec,
      name: String, to: org.apache.spark.sql.types.DataType)
      : LinkCommitReport =
    lockFor(spec).synchronized {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.StructType
      val fq = s"${spec.database}.${spec.table}"
      if (spec.fileFormat != "parquet")
        throw new PipelineSpecException(
          s"ALTER COLUMN TYPE on $fq: metadata-only retype relies on the " +
            s"parquet reader's type promotion — ${spec.fileFormat} tables " +
            "rewrite instead (CREATE OR REPLACE … AS SELECT with a cast)")
      val snap = snapshots(spec).lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to evolve"))
      val shape = logicalShape(spark, spec, snap)
      val field = shape.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new PipelineSpecException(
          s"ALTER COLUMN TYPE on $fq: no column '$name'"))
      if (spec.partitionBy.exists(_.equalsIgnoreCase(name)))
        throw new PipelineSpecException(
          s"ALTER COLUMN TYPE on $fq: '$name' is a partition key — " +
            "partition keys are immutable")
      if (field.dataType == to) throw new PipelineSpecException(
        s"ALTER COLUMN TYPE on $fq: '$name' already has type ${to.sql}")
      if (!safeWidening(field.dataType, to))
        throw new PipelineSpecException(
          s"ALTER COLUMN TYPE on $fq: ${field.dataType.sql} -> ${to.sql} " +
            "is not a lossless widening (allowed: TINYINT/SMALLINT/INT up " +
            "the integral chain or to DOUBLE or DECIMAL(p,0), FLOAT to " +
            "DOUBLE, DECIMAL precision/scale widening) — a lossy retype " +
            "requires a rewrite (CREATE OR REPLACE … AS SELECT with a cast)")
      val widenedF = field.copy(dataType = to) // metadata (phys name) rides
      val pinned = StructType(shape.fields.map(f =>
        if (f eq field) widenedF else f))
      val fresh = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], pinned)
      def fullImage: DataFrame = {
        val prev = readVersion(spark, spec, Some(snap.version))
        prev.select(prev.columns.map(c =>
          if (c.equalsIgnoreCase(name)) col(c).cast(to).as(field.name)
          else col(c)).toIndexedSeq: _*)
      }
      linkCommitLocked(spark, spec, fq, snap, carriedWanted = None,
        fresh = fresh, fullImage = fullImage, txn = None,
        pinSchema = Some(pinned), freshIsEmpty = true)
    }

  /** SHALLOW CLONE: a brand-new versioned table whose v1 manifest
    * REFERENCES every data file of the source snapshot — ZERO data read,
    * copied or moved, O(files) metadata whatever the source size (the
    * Delta `CREATE TABLE … SHALLOW CLONE` / Iceberg snapshot-ref
    * economics). Entries carry the source's recorded stats/rows/sums
    * verbatim, so zone-map pruning and metadata aggregates work on the
    * clone immediately; the schema/evolution sidecars and Bloom shards
    * copy alongside (pure metadata). References stay FLAT: cloning a
    * clone (or a reference-mode source) re-points at each file's
    * PHYSICAL owner, never through a chain. The clone then lives its own
    * life — its DML copy-on-writes against the referenced files (link
    * mode even re-materializes them as hard links on first carry), its
    * versions vacuum independently — while the clone registers itself in
    * each owner table's [[CloneRegistry]], so the OWNER's vacuum and
    * retention pin exactly the version dirs surviving clone manifests
    * still reference: the Delta footgun ("vacuum on the source breaks
    * shallow clones") structurally cannot happen.
    */
  def cloneTable(spark: SparkSession, srcSpec: ObjectStoreSpec,
      targetDb: String, targetTable: String,
      srcVersion: Option[Int] = None): CloneReport = {
    val spec = srcSpec.copy(database = targetDb, table = targetTable)
    lockFor(spec).synchronized {
      val fq = s"$targetDb.$targetTable"
      val srcFq = s"${srcSpec.database}.${srcSpec.table}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $targetDb")
      val tableDir = Paths.get(spec.path, spec.database, spec.table)
      if (versionDirs(tableDir).exists(TableManifest.isCommitted) ||
          spark.catalog.tableExists(fq))
        throw new PipelineSpecException(
          s"SHALLOW CLONE target $fq already exists — clone creates a " +
            "NEW table (drop it first, or pick another name)")
      val srcSnap = resolveSnapshot(srcSpec, srcVersion)
      val srcDir = Paths.get(srcSnap.path)
      val srcM = TableManifest.read(srcDir).getOrElse(
        throw new PipelineSpecException(
          s"SHALLOW CLONE of $srcFq: version ${srcSnap.version} has no " +
            "manifest — only manifest-committed tables clone"))
      Files.createDirectories(tableDir)
      val next = nextVersionDir(tableDir)
      Files.createDirectories(next)
      // re-point every entry at its PHYSICAL owner, flat: a plain source
      // entry lives in the source version dir; a reference entry's own
      // ref is source-table-relative, so the same prefix re-bases it
      val toSrc = tableDir.toAbsolutePath.normalize
        .relativize(srcDir.getParent.toAbsolutePath.normalize)
      val srcName = srcDir.getFileName.toString
      val entries = srcM.files.map { e =>
        val r =
          if (e.ref.isEmpty) toSrc.resolve(srcName).resolve(e.path)
          else toSrc.resolve(e.ref)
        e.copy(ref = r.normalize.toString)
      }
      // metadata sidecars ride along: pinned schema, evolution state,
      // Bloom shards (all keyed by the logical relative paths the
      // entries keep verbatim)
      for (name <- Seq(SchemaSidecarName, EvolutionSidecarName)) {
        val f = srcDir.resolve(name)
        if (Files.exists(f))
          TableManifest.publisher.publish(next, name, Files.readString(f))
      }
      BloomIndex.sidecarFiles(srcDir).foreach { f =>
        TableManifest.publisher.publish(next,
          f.getFileName.toString, Files.readString(f))
      }
      TableManifest.commitCarried(next, srcM.schemaHash, srcM.fileFormat,
        txn = None, carried = entries)
      CommitLog.record(tableDir, versionNumber(next))
      // register the incoming references with every owner table BEFORE
      // the catalog repoint makes the clone visible: no window in which
      // an owner's retention could miss the pin
      val m = TableManifest.read(next).get
      TableManifest.externalOwnerDirs(next, m).map(_.getParent).toSeq
        .distinct.foreach(owner => CloneRegistry.register(owner, tableDir))
      repoint(spark, fq, spec, next, readVersion(spark, spec))
      CloneReport(fq, srcFq, srcSnap.version, entries.size,
        entries.map(_.bytes).sum)
    }
  }

  /** What a [[cloneTable]] commit did: every file referenced, zero
    * written.
    */
  final case class CloneReport(table: String, source: String,
      sourceVersion: Int, filesReferenced: Int, bytesReferenced: Long)

  /** `RESTORE`: roll the table back to a prior committed snapshot as a
    * NEW version that carries that snapshot's files (hard links or
    * references per the publisher) — O(files) metadata whatever the
    * table size, never a data rewrite (the Delta `RESTORE TABLE`
    * discipline). The full state restores: data, pinned schema sidecar,
    * evolution state and Bloom shards all carry from the restore target,
    * so restoring past a schema evolution rolls the shape back too.
    * History is append-only — the bad versions stay time-travel-readable
    * until retention, and the restore itself is just another CAS-pinned
    * commit (a concurrent writer aborts it, never the reverse).
    */
  def restoreVersion(spark: SparkSession, spec: ObjectStoreSpec,
      toVersion: Int): LinkCommitReport =
    lockFor(spec).synchronized {
      val fq = s"${spec.database}.${spec.table}"
      val snaps = snapshots(spec)
      val latest = snaps.lastOption.getOrElse(
        throw new PipelineSpecException(
          s"$fq has no committed version to restore"))
      val target = snaps.find(_.version == toVersion).getOrElse(
        throw new PipelineSpecException(
          s"RESTORE $fq: version $toVersion does not exist or is not " +
            s"committed (have: ${snaps.map(_.version).mkString(", ")}; " +
            "retained history only — vacuumed versions cannot restore)"))
      val shape = logicalShape(spark, spec, target)
      val fresh = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], shape)
      def fullImage: DataFrame = readVersion(spark, spec, Some(toVersion))
      linkCommitLocked(spark, spec, fq, target, carriedWanted = None,
        fresh = fresh, fullImage = fullImage, txn = None,
        pinSchema = Some(shape), freshIsEmpty = true,
        casVersion = Some(latest.version))
    }

  private def guardSchemaAligned(fq: String, prevRead: DataFrame,
      batch: DataFrame, verb: String): Unit = {
    val prevSchema = prevRead.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val newSchema = batch.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (prevSchema != newSchema) throw new PipelineSpecException(
      s"$verb to $fq: batch schema ${newSchema.mkString(", ")} " +
        s"does not match the table schema ${prevSchema.mkString(", ")} — " +
        "align and cast before committing")
  }

  /** The shared link-commit core (assumes the table lock is HELD and the
    * CAS against `snap` passed): write `fresh` into the next version dir,
    * hard-link the wanted prior files in at their own relative paths,
    * publish a carried manifest (linked entries keep their recorded
    * stats/rows/sums verbatim — only new footers are read), extend the
    * Bloom sidecar over just the new files, record, repoint, retire.
    * `carriedWanted = None` carries EVERY prior file (the append shape);
    * `Some(entries)` carries exactly those (the COW shape). Any drift —
    * no prior manifest, a wanted file missing — degrades to a full
    * [[replaceTable]] of `fullImage` on the SAME expected version.
    */
  private def linkCommitLocked(spark: SparkSession, spec: ObjectStoreSpec,
      fq: String, snap: Snapshot,
      carriedWanted: Option[Seq[TableManifest.FileEntry]],
      fresh: DataFrame, fullImage: => DataFrame,
      txn: Option[TableManifest.TxnStamp],
      pinSchema: Option[org.apache.spark.sql.types.StructType] = None,
      dropAlso: Set[String] = Set.empty,
      freshIsEmpty: Boolean = false,
      casVersion: Option[Int] = None)
      : LinkCommitReport = {
    val tableDir = Paths.get(spec.path, spec.database, spec.table)
    val prevDir = Paths.get(snap.path)
    // the degrade path re-runs as a CAS-pinned full rewrite; `snap` is
    // both the carry source and the expected latest except for RESTORE,
    // where the carry source is a PRIOR version while the CAS must still
    // pin the actual latest
    val expectLatest = casVersion.getOrElse(snap.version)
    def fullRewrite(): LinkCommitReport = {
      replaceTable(spark, fullImage, spec, txn, Some(expectLatest))
      val after = snapshots(spec).last
      LinkCommitReport(fq, 0, after.nFiles, degraded = true)
    }
    val prevManifest = TableManifest.read(prevDir).getOrElse(
      return fullRewrite())
    val wanted = carriedWanted.getOrElse(prevManifest.files)
    // COW callers pass entries of the SAME live manifest; a stale entry
    // (not in the manifest anymore) is drift — degrade, never guess
    val prevRel = prevManifest.files.map(_.path).toSet
    if (!wanted.forall(e => prevRel(e.path))) return fullRewrite()

    // the pinned schema decides the PHYSICAL spelling of the fresh batch:
    // an explicit pin (schema evolution) or the sidecar CARRIED from the
    // prior version — computed BEFORE the write so a rename-evolved
    // table's new files land under the stable physical namespace
    val carriedPin = pinSchema.orElse(sidecarSchema(prevDir))
    val next = nextVersionDir(tableDir)
    if (freshIsEmpty) {
      // metadata-only commits (schema evolution) have an empty-by-
      // construction fresh image: skip the write job entirely — an
      // unpartitioned empty write would otherwise land one 0-row
      // parquet file (FileFormatWriter pads a single empty task)
      Files.createDirectories(next): Unit
    } else {
      val sw0 = tsMicros(toPhysical(fresh, carriedPin)).write
        .mode(SaveMode.Overwrite).format(spec.fileFormat)
        .options(versionDirWriteOptions)
      val sw = if (spec.partitionBy.nonEmpty) sw0.partitionBy(spec.partitionBy: _*) else sw0
      Obs.span("linkCommit.save")(sw.save(next.toString))
    }

    // carry every wanted prior data file at its own LOGICAL relative path.
    // Hard-link mode materializes the file in the new dir (same inode); a
    // name collision with a just-written file keeps the partition dir and
    // disambiguates only the file NAME (the dir part is semantic).
    // Reference mode ([[CommitPublisher.carryByReference]]) moves ZERO
    // bytes: the entry's `ref` records where the bytes physically live —
    // FLATTENED, always the version dir that originally wrote the file,
    // never a chain through intermediate versions, so resolution stays
    // O(1) and reachability is a single manifest read per version.
    val byReference = TableManifest.publisher.carryByReference
    val carried = Seq.newBuilder[TableManifest.FileEntry]
    var intact = true
    if (byReference) {
      val freshRel = TableManifest.dataFiles(next)
        .map(p => next.relativize(p).toString).toSet
      val prevName = prevDir.getFileName.toString
      wanted.foreach { e =>
        val ref = if (e.ref.nonEmpty) e.ref else s"$prevName/${e.path}"
        if (!intact || !Files.isRegularFile(tableDir.resolve(ref)))
          intact = false
        else {
          // a logical-path clash with a fresh file renames only the
          // manifest KEY (stats/Bloom keys follow); the bytes never move
          val rel =
            if (!freshRel(e.path)) e.path
            else {
              val i = e.path.lastIndexOf('/')
              val (dir, name) =
                if (i < 0) ("", e.path)
                else (e.path.substring(0, i + 1), e.path.substring(i + 1))
              s"${dir}ref-${java.util.UUID.randomUUID()}-$name"
            }
          carried += e.copy(path = rel, ref = ref)
        }
      }
    } else {
      // one hard link per carried file, fanned over a bounded driver pool
      // (the footerMeta treatment): the links are independent metadata
      // syscalls, entry paths are unique within a manifest so no two
      // tasks touch the same target, and a name collision is only ever
      // against an already-written FRESH file (the save job completed
      // before this loop). Results keep `wanted` order — the manifest is
      // byte-deterministic regardless of completion order.
      def linkOne(e: TableManifest.FileEntry)
          : Option[TableManifest.FileEntry] = {
        val src = TableManifest.resolved(prevDir, e)
        if (!Files.exists(src)) None
        else {
          var target = next.resolve(e.path)
          Files.createDirectories(target.getParent)
          var rel = e.path
          if (Files.exists(target)) {
            val freshName = s"link-${java.util.UUID.randomUUID()}-" +
              target.getFileName.toString
            target = target.getParent.resolve(freshName)
            rel = next.relativize(target).toString
          }
          try Files.createLink(target, src)
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              try Files.copy(src, target,
                java.nio.file.StandardCopyOption.COPY_ATTRIBUTES): Unit
              catch { case _: Exception => return None }
          }
          // the carried file is now physically in THIS dir: the entry is
          // plain again even when the prior entry was a reference (link
          // mode re-materializes — mixed-mode histories stay readable)
          Some(e.copy(path = rel, ref = ""))
        }
      }
      // ANY exception (not just the I/O fallbacks linkOne catches itself —
      // e.g. createDirectories failing on permissions) becomes None → clean
      // fullRewrite degrade, never a propagated throw that leaves the
      // uncommitted next dir behind
      val results = DriverPool.map(wanted)(e =>
        try linkOne(e) catch { case _: Exception => None })
      if (results.exists(_.isEmpty)) intact = false
      else carried ++= results.flatten
    }
    if (!intact) { deleteTree(next); return fullRewrite() }
    val carriedEntries = carried.result()

    // Schema pinning: an explicit pin (schema evolution) or the carried
    // sidecar (evolved tables whose linked old files lack the added
    // columns — schema-on-read from a sampled old file would silently
    // NARROW the table) publishes forward; an empty image with no pin
    // falls back to the prior image's schema (same sidecar contract as
    // replaceTable's empty commits). The evolution state (dropped
    // physical names) carries alongside, extended by this commit's own
    // drops.
    publishDropped(next, droppedPhysNames(prevDir) ++ dropAlso)
    val reread = carriedPin match {
      case Some(sch) =>
        TableManifest.publisher.publish(next, SchemaSidecarName, sch.json)
        spark.read.schema(sch).format(spec.fileFormat).load(next.toString)
      case None if TableManifest.dataFiles(next).nonEmpty =>
        spark.read.format(spec.fileFormat).load(next.toString)
      case None =>
        val prevRead = readVersion(spark, spec, Some(snap.version))
        TableManifest.publisher.publish(next, SchemaSidecarName,
          prevRead.schema.json)
        spark.read.schema(prevRead.schema)
          .format(spec.fileFormat).load(next.toString)
    }
    val manifest0 = Obs.span("linkCommit.manifest")(
      TableManifest.commitCarried(next, schemaHash(reread),
        spec.fileFormat, txn, carriedEntries))
    // carried entries keep their recorded sums verbatim (same immutable
    // file); only the NEW files get the sum pass — O(batch), never O(table)
    val sumCols = (spec.sumColumns ++ prevManifest.files.flatMap(
      _.stats.toSeq.flatMap(_.collect {
        case (c, cs) if cs.sum.nonEmpty => c }))).distinct
      .filterNot(spec.partitionBy.contains)
    val carriedRel = carriedEntries.map(_.path).toSet
    // sums republish the manifest BEFORE the repoint; the bloom sidecar
    // publishes AFTER the manifest — and a table maintaining both runs
    // ONE pass over the fresh files computing the sum and Bloom
    // aggregates together (the same fusion as replaceTable: both passes
    // cover exactly the non-carried files, so two scans were pure waste)
    val newOnly = Some(manifest0.files.map(_.path).toSet -- carriedRel)
    val freshDf = BloomIndex.newDf(spark, next, spec.fileFormat,
      manifest0, carriedRel)
    val sumPlan =
      if (sumCols.isEmpty) None
      else freshDf.flatMap(df => TableManifest.planSums(df, sumCols,
        TableManifest.sumTargets(manifest0, newOnly)))
    val extendPlan = BloomIndex.planExtend(prevDir, next, manifest0,
      carriedRel, freshDf)
    val manifest = (sumPlan, extendPlan) match {
      case (Some(s), Some(e)) if e.aggs.nonEmpty =>
        Obs.span("linkCommit.sums+blooms") {
          import org.apache.spark.sql.functions.input_file_name
          val aggs = s.aggs ++ e.aggs
          val rows = freshDf.get.groupBy(input_file_name().as("_file"))
            .agg(aggs.head, aggs.tail: _*).collect()
          val enriched = TableManifest.applySums(next, manifest0, s, rows,
            offset = 0)
          BloomIndex.publishExtended(next, e, rows, offset = s.aggs.size)
          enriched
        }
      case _ =>
        val m1 = sumPlan match {
          case Some(s) => Obs.span("linkCommit.sums") {
            import org.apache.spark.sql.functions.input_file_name
            val rows = freshDf.get.groupBy(input_file_name().as("_file"))
              .agg(s.aggs.head, s.aggs.tail: _*).collect()
            TableManifest.applySums(next, manifest0, s, rows, offset = 0)
          }
          case None => manifest0
        }
        Obs.span("linkCommit.blooms")(extendPlan.foreach { e =>
          if (e.aggs.isEmpty)
            BloomIndex.publishExtended(next, e, Array.empty, offset = 0)
          else {
            import org.apache.spark.sql.functions.input_file_name
            val rows = freshDf.get.groupBy(input_file_name().as("_file"))
              .agg(e.aggs.head, e.aggs.tail: _*).collect()
            BloomIndex.publishExtended(next, e, rows, offset = 0)
          }
        })
        m1
    }
    CommitLog.record(tableDir, versionNumber(next))
    Obs.span("linkCommit.repoint")(
      repoint(spark, fq, spec, next, reread))
    versionDirs(tableDir).filter(_ != next).filter(TableManifest.isCommitted)
      .foreach(TableManifest.markSuperseded)
    Obs.span("linkCommit.retire")(retireOldVersions(tableDir, keep = 2))
    LinkCommitReport(fq, carriedEntries.size,
      manifest.files.size - carriedEntries.size, degraded = false)
  }

  /** Write options for VERSION-DIR data writes only (never user query
    * outputs): FileOutputCommitter algorithm 2 moves each task's files
    * into the destination at TASK commit instead of a sequential
    * driver-side rename of every file at JOB commit — O(tasks, parallel)
    * instead of O(files, driver-serial). v2's weaker guarantee (a failed
    * job can leave already-committed task files in the destination) is
    * exactly what the versioned-dir protocol already tolerates: a version
    * dir without `_manifest.json` is an uncommitted crash leftover,
    * invisible to readers/recovery and swept by retention — the manifest,
    * not the directory, is the commit. Spark's OutputCommitCoordinator
    * still serializes task commits, so speculative/retried tasks cannot
    * double-commit.
    */
  private val versionDirWriteOptions: Map[String, String] =
    Map("mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** Table data is written with int64-micros timestamps for the scope of
    * the write: INT96 (Spark's legacy parquet default) records NO column
    * statistics, so a lake committed as INT96 could never zone-map-prune
    * or metadata-answer a timestamp column. Scoped, not session-global —
    * query OUTPUT files keep the session's own convention so external
    * consumers of non-table parquet see no change.
    *
    * The scope is a CLONED session (isolated SQLConf, shared catalog) the
    * write plan is re-bound to — no session-wide conf mutation at all, so
    * concurrent multi-table commits no longer serialize behind the r11
    * global set/restore lock (r12 ADVICE): the parquet writer reads the
    * clone's conf, the user's session never changes, and nothing needs
    * restoring. Clone cost is a session-state copy, noise next to a
    * versioned commit.
    */
  private def tsMicros(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.withConfCloned(df,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  private def schemaHash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(df.schema.json.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Point the catalog entry for `fq` at `newLoc`. Schema-preserving swaps
    * take the atomic path (ALTER ... SET LOCATION + partition re-sync);
    * schema changes re-create the entry (a new table version, reference
    * DatasetObjectStoreUtil.scala:71-100) — after the partition-key
    * immutability guard.
    */
  private def repoint(spark: SparkSession, fq: String, spec: ObjectStoreSpec,
      newLoc: Path, sample: DataFrame): Unit =
    graft.model.InternalDdl.run {
    val exists = spark.catalog.tableExists(fq)
    if (exists) guardPartitionKeysImmutable(spark, fq, spec)
    val sameSchema = exists && {
      val cat = spark.table(fq).schema.fields.map(f => (f.name, f.dataType)).toSeq
      cat == sample.schema.fields.map(f => (f.name, f.dataType)).toSeq
    }
    if (sameSchema) {
      spark.sql(s"ALTER TABLE $fq SET LOCATION '${newLoc.toUri}'")
      if (spec.partitionBy.nonEmpty) {
        // MSCK only ADDS partition values it doesn't know and SYNC only
        // drops values whose directory VANISHED — but a swapped-out
        // version's dirs survive until retirement, so (1) a partition
        // value present in both versions would keep its OLD per-partition
        // location (readers break the moment vacuum retires that dir),
        // and (2) a value ABSENT from the new image (a partition-deleting
        // DELETE, a TRUNCATE) would stay registered and resurrect its
        // rows. Drop every partition not already under the new version
        // dir FIRST (retainData — the files belong to the superseded
        // version and its readers until vacuum), then re-register from
        // the new location so every entry points into it.
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(
          spec.table, Some(spec.database))
        val cat = spark.sessionState.catalog
        val base = newLoc.normalize
        val stale = cat.listPartitions(ident).filter(p =>
          p.storage.locationUri.forall(u =>
            !Paths.get(u.getPath).normalize.startsWith(base)))
        if (stale.nonEmpty)
          cat.dropPartitions(ident, stale.map(_.spec),
            ignoreIfNotExists = true, purge = false, retainData = true)
        spark.sql(s"MSCK REPAIR TABLE $fq SYNC PARTITIONS")
        syncRefPartitions(spark, spec, newLoc)
      }
      spark.catalog.refreshTable(fq)
    } else {
      spark.sql(s"DROP TABLE IF EXISTS $fq")
      createExternal(spark, fq, spec, sample, newLoc)
      repairTable(spark, fq, spec)
      if (spec.partitionBy.nonEmpty) syncRefPartitions(spark, spec, newLoc)
    }
  }

  /** Reference-mode partition registration: MSCK only discovers partition
    * directories PHYSICALLY under the version dir, but a reference-mode
    * manifest's partitions may exist only as carried entries pointing at
    * prior version dirs. Register those from the manifest's LOGICAL
    * partition paths (locations under the live version dir — possibly
    * absent on disk, which the metastore permits), so partition-pruned
    * catalog scans keep their roots and [[graft.plans.RefResolveRule]]
    * resolves the files. Link-mode manifests have no references — no-op.
    */
  private def syncRefPartitions(spark: SparkSession, spec: ObjectStoreSpec,
      newLoc: Path): Unit = {
    if (spec.partitionBy.isEmpty) return
    val m = TableManifest.read(newLoc).getOrElse(return)
    if (!m.files.exists(_.ref.nonEmpty)) return
    import org.apache.spark.sql.catalyst.catalog.{CatalogTablePartition, ExternalCatalogUtils}
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(
      spec.table, Some(spec.database))
    val cat = spark.sessionState.catalog
    val table = cat.getTableMetadata(ident)
    def parentOf(rel: String): String = {
      val i = rel.lastIndexOf('/'); if (i < 0) "" else rel.substring(0, i)
    }
    val wanted = m.files.map(e => parentOf(e.path)).distinct.filter(_.nonEmpty)
      .flatMap { dir =>
        val kvs = dir.split('/').flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) None
          else {
            val name = ExternalCatalogUtils.unescapePathName(seg.substring(0, i))
            spec.partitionBy.find(_.equalsIgnoreCase(name)).map(_ ->
              ExternalCatalogUtils.unescapePathName(seg.substring(i + 1)))
          }
        }.toMap
        if (kvs.keySet == spec.partitionBy.toSet) Some(dir -> kvs) else None
      }
    if (wanted.isEmpty) return
    val existing = cat.listPartitions(ident).map(_.spec).toSet
    val missing = wanted.filterNot { case (_, kvs) => existing(kvs) }
    if (missing.nonEmpty)
      cat.createPartitions(ident, missing.map { case (dir, kvs) =>
        CatalogTablePartition(kvs, table.storage.copy(
          locationUri = Some(newLoc.resolve(dir).toUri)))
      }, ignoreIfExists = true)
  }

  /** Committed-snapshot inventory for a table, oldest → newest — version
    * number, commit/supersede times, and the manifest's exact row/byte
    * accounting. Metadata-only (manifest reads, no data access, no Spark
    * jobs): the versioned-dir analogue of an ACID format's snapshot log.
    */
  /** `filesCarried` / `filesWritten` / `bytesWritten` are the commit's
    * COW economics, derived from manifest identity against the PREVIOUS
    * surviving snapshot: an entry carried by reference (`ref` set) or
    * whose (path, bytes, rows) identity already existed in the prior
    * manifest was linked/referenced — everything else was physically
    * written by this commit. What lets an operator SEE whether DML is
    * actually COWing in production (`SHOW SNAPSHOTS`), not just trust it.
    * -1 when the prior version's manifest is gone (retired) AND nothing
    * self-identifies as carried.
    */
  final case class Snapshot(version: Int, path: String, committedAtMs: Long,
      supersededAtMs: Option[Long], rowCount: Long, totalBytes: Long,
      nFiles: Int, live: Boolean, filesCarried: Int = 0,
      filesWritten: Int = 0, bytesWritten: Long = 0L)

  def snapshots(spec: ObjectStoreSpec): Seq[Snapshot] = {
    val tableDir = Paths.get(spec.path, spec.database, spec.table)
    // version resolution: the commit LOG is the source of truth (listings
    // are eventually consistent and carry no commit order at object-store
    // scale); the listing is unioned in only to adopt legacy pre-log
    // tables — it can add versions the log predates, never reorder it
    val logged = CommitLog.read(tableDir).getOrElse(Nil)
    val listed = versionDirs(tableDir).filter(TableManifest.isCommitted)
      .map(p => p.getFileName.toString match { case VersionDir(n) => n.toInt })
    // runs WITHOUT the table lock: a concurrent replaceTable/Vacuum can
    // retire a dir between resolution and the manifest read, so flatMap
    // over read results — a dir that vanished mid-inventory is simply
    // absent from the snapshot log, never a thrown 500
    val withManifests = (logged ++ listed).distinct.sorted
      .map(v => (v, tableDir.resolve(f"v-$v%06d")))
      .flatMap { case (v, p) =>
        TableManifest.read(p).map(m => (v, p, m))
      }
    // commit economics by manifest identity against the previous
    // SURVIVING snapshot (the carried entries of a link/reference commit
    // keep their (path, bytes, rows) verbatim; reference entries
    // self-identify); prev retired → refs still count, the rest reads as
    // written — conservative, never a fabricated carry
    val snaps = withManifests.zip(None +: withManifests.map(t => Some(t._3)))
      .map { case ((v, p, m), prev) =>
        val prevKey = prev.map(_.files.map(e =>
          (e.path, e.bytes, e.rows)).toSet).getOrElse(Set.empty)
        val carried = m.files.count(e => e.ref.nonEmpty ||
          prevKey((e.path, e.bytes, e.rows)))
        val written = m.files.filterNot(e => e.ref.nonEmpty ||
          prevKey((e.path, e.bytes, e.rows)))
        Snapshot(v, p.toString, m.committedAtMs, TableManifest.supersededAt(p),
          m.rowCount, m.totalBytes, m.files.size, live = false,
          filesCarried = carried, filesWritten = written.size,
          bytesWritten = written.map(_.bytes).sum)
      }
    snaps match {
      case init :+ last => init :+ last.copy(live = true)
      case _ => snaps
    }
  }

  /** Time-travel read: the table AS OF a committed version (by version
    * number, or the latest when `version` is None). Reads the version's
    * own directory — immutable until retention retires it — so the result
    * is stable regardless of later commits. The manifest gate means a
    * crashed writer's directory can never be read.
    */
  /** Sidecar carrying the committed schema of an EMPTY version image
    * (no data files on disk to infer from). Present only when the image
    * is empty; non-empty versions keep schema-on-read.
    */
  private[graft] val SchemaSidecarName = "_schema.json"

  /** Metadata key on a pinned-schema field recording the column's
    * PHYSICAL name in the data files when a metadata-only RENAME made the
    * logical name diverge ([[renameColumn]]). Files are NEVER rewritten
    * for a rename — the physical namespace stays stable forever (fresh
    * writes physicalize through [[toPhysical]], reads map back through
    * [[toLogical]]) — the no-field-IDs realization of Iceberg's
    * rename-is-metadata discipline.
    */
  private[graft] val PhysNameKey = "graft.phys"

  private[graft] def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  /** logical → physical for the fields where they differ. */
  private[graft] def physMap(sch: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    sch.fields.iterator.filter(f => physName(f) != f.name)
      .map(f => f.name -> physName(f)).toMap

  /** The pinned logical schema re-spelled in PHYSICAL column names — the
    * shape the data files actually carry.
    */
  private[graft] def physicalSchema(
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      sch.fields.map(f => f.copy(name = physName(f))))

  /** Write-side physicalization: a LOGICAL-shaped batch renamed onto the
    * physical namespace before it lands in parquet. Identity when no
    * field diverges.
    */
  private def toPhysical(df: DataFrame,
      pin: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    pin.filter(p => physMap(p).nonEmpty).fold(df) { p =>
      import org.apache.spark.sql.functions.col
      val m = physMap(p)
      df.select(df.columns.map(c =>
        col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)
    }

  /** Read-side mapping: a PHYSICAL-shaped read aliased back to the pinned
    * logical names. Identity when no field diverges.
    */
  private def toLogical(df: DataFrame,
      pin: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (physMap(pin).isEmpty) df
    else df.select(pin.fields.map(f =>
      col(physName(f)).as(f.name)).toIndexedSeq: _*)
  }

  /** Evolution-state sidecar (`_evolution.json`): the PHYSICAL column
    * names retired by metadata-only DROPs. Old data files still carry
    * those columns, so a later ADD COLUMNS of a retired name would
    * silently RESURRECT the dropped values through schema-on-read —
    * [[evolveSchema]] refuses exactly that (field-ID systems get this for
    * free; a name-matched format must track it). Carried through every
    * link commit; a full rewrite resets it (the files are re-written
    * under the current logical shape).
    */
  private[graft] val EvolutionSidecarName = "_evolution.json"

  private[graft] def droppedPhysNames(versionDir: Path): Set[String] = {
    val f = versionDir.resolve(EvolutionSidecarName)
    if (!Files.exists(f)) Set.empty
    else
      try {
        import org.json4s._
        implicit val formats: Formats = DefaultFormats
        org.json4s.jackson.JsonMethods.parse(Files.readString(f))
          .extract[Map[String, Seq[String]]]
          .getOrElse("dropped", Nil).toSet
      } catch { case _: Exception => Set.empty }
  }

  private def publishDropped(versionDir: Path, dropped: Set[String]): Unit =
    if (dropped.nonEmpty)
      TableManifest.publisher.publish(versionDir, EvolutionSidecarName,
        org.json4s.jackson.Serialization.write(
          Map("dropped" -> dropped.toSeq.sorted))(org.json4s.DefaultFormats))

  /** The committed schema pinned by a version dir's `_schema.json`
    * sidecar, when present (empty images; schema-evolved tables whose
    * linked old files lack the added columns).
    */
  private[graft] def sidecarSchema(
      versionDir: Path): Option[org.apache.spark.sql.types.StructType] = {
    val sidecar = versionDir.resolve(SchemaSidecarName)
    if (!Files.exists(sidecar)) None
    else
      try Some(org.apache.spark.sql.types.DataType
        .fromJson(Files.readString(sidecar))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      catch { case _: Exception => None }
  }

  def readVersion(spark: SparkSession, spec: ObjectStoreSpec,
      version: Option[Int] = None): DataFrame = {
    val snapPath = resolveSnapshot(spec, version).path
    val vdir = Paths.get(snapPath)
    // a reference-mode manifest's files span PRIOR version dirs — the
    // directory is not the file set; read the manifest-resolved list
    TableManifest.read(vdir).filter(_.files.exists(_.ref.nonEmpty)) match {
      case Some(m) =>
        readSubset(spark, snapPath, spec.fileFormat, m.files, m.files.size)
      case None =>
        sidecarSchema(vdir) match {
          case Some(schema) =>
            // files carry the PHYSICAL namespace; the pinned schema maps
            // it back to the logical one (identity for never-renamed
            // tables)
            toLogical(spark.read.schema(physicalSchema(schema))
              .format(spec.fileFormat).load(snapPath), schema)
          case None => spark.read.format(spec.fileFormat).load(snapPath)
        }
    }
  }

  private def resolveSnapshot(spec: ObjectStoreSpec, version: Option[Int]): Snapshot = {
    val snaps = snapshots(spec)
    if (snaps.isEmpty) throw new PipelineSpecException(
      s"no committed versions for ${spec.database}.${spec.table} under ${spec.path}")
    version match {
      case None => snaps.last
      case Some(v) => snaps.find(_.version == v).getOrElse(
        throw new PipelineSpecException(
          s"version $v of ${spec.database}.${spec.table} does not exist or " +
            s"is not committed (have: ${snaps.map(_.version).mkString(", ")})"))
    }
  }

  /** Zone-map-pruned read: resolve the committed snapshot like
    * [[readVersion]], drop every data file whose manifest-recorded column
    * ranges provably cannot intersect `preds` ([[ZoneMap.prune]] — a
    * driver-side O(files) metadata decision; no scan task ever launches
    * for a skipped file), then apply the predicate EXACTLY on the
    * survivors, so the result equals `readVersion(...).filter(preds)`
    * regardless of how sharp the stats are. Returns the exact DataFrame
    * plus the skip accounting. Files lacking stats (non-parquet formats,
    * legacy manifests) are simply never skipped — same rows, no speedup.
    */
  def readVersionPruned(spark: SparkSession, spec: ObjectStoreSpec,
      preds: Seq[ZoneMap.Bound], version: Option[Int] = None)
      : (DataFrame, ZoneMap.PruneReport) = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = resolveSnapshot(spec, version)
    val vdir = Paths.get(snap.path)
    val manifest = TableManifest.read(vdir).getOrElse(
      throw new PipelineSpecException(
        s"committed version ${snap.version} of ${spec.database}.${spec.table} " +
          "lost its manifest — refusing to substitute a directory listing"))
    val (kept, report) = ZoneMap.prune(manifest, preds)
    val pruned = readSubset(spark, snap.path, spec.fileFormat, kept,
      manifest.files.size)
    val exact = preds.foldLeft(pruned) { (d, p) =>
      val c = col(p.column)
      val d1 = p.lower.map(v => d.where(c >= lit(v))).getOrElse(d)
      val d2 = p.upper.map(v => d1.where(c <= lit(v))).getOrElse(d1)
      val d3 = if (p.nonNull) d2.where(c.isNotNull) else d2
      if (p.isNull) d3.where(c.isNull) else d3
    }
    (exact, report)
  }

  /** Load exactly `kept` of a committed snapshot's data files. basePath
    * keeps partition-directory columns resolvable when loading an explicit
    * file subset of a partitioned layout; an empty subset keeps the
    * snapshot's schema and reads nothing. Pure listing decision — rows
    * inside kept files are untouched.
    */
  private[graft] def readSubset(spark: SparkSession, snapPath: String,
      fileFormat: String, kept: Seq[TableManifest.FileEntry],
      totalFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vdir = Paths.get(snapPath)
    // honor the version's pinned schema (schema-evolved tables: a subset
    // of OLD files would otherwise schema-on-read NARROWER than the
    // table); the files carry the PHYSICAL namespace, mapped back to the
    // logical names after the load (identity for never-renamed tables)
    val pin = sidecarSchema(vdir)
    val reader0 = spark.read.format(fileFormat)
    val reader = pin.fold(reader0)(p => reader0.schema(physicalSchema(p)))
    def logical(df: DataFrame): DataFrame = pin.fold(df)(toLogical(df, _))
    val anyRef = kept.exists(_.ref.nonEmpty)
    if (kept.size == totalFiles && !anyRef) logical(reader.load(snapPath))
    else if (kept.isEmpty) logical(reader.load(snapPath).where(lit(false)))
    else if (!anyRef)
      logical(reader.option("basePath", snapPath)
        .load(kept.map(f => vdir.resolve(f.path).toString): _*))
    else {
      // reference entries resolve into sibling version dirs, and Spark's
      // partition-value inference requires ONE base per load — so read
      // one group per OWNING version dir (its own dir as basePath, the
      // standard single-version shape) and union them. A handful of
      // versions deep at most; the branches scan in parallel and filters
      // push into each.
      logical(kept.groupBy(e => TableManifest.ownerDir(vdir, e))
        .toSeq.sortBy(_._1.toString)
        .map { case (owner, es) =>
          reader.option("basePath", owner.toString)
            .load(es.map(e => TableManifest.resolved(vdir, e).toString): _*)
        }
        .reduce(_.unionByName(_)))
    }
  }

  /** Re-register a table whose catalog entry is gone but whose versioned
    * data survives (e.g. a crash between DROP and CREATE of a schema-change
    * swap, or a fresh session over an existing lake). Returns true if the
    * table is usable afterwards.
    */
  def recoverTable(spark: SparkSession, spec: ObjectStoreSpec): Boolean = {
    val fq = s"${spec.database}.${spec.table}"
    if (spark.catalog.tableExists(fq)) return true
    val tableDir = Paths.get(spec.path, spec.database, spec.table)
    // only a COMMITTED version (manifest present) is recoverable — a dir of
    // files from a crashed write is never served, however complete it
    // looks. Exception: a LEGACY table (pre-manifest layout, no manifest
    // under ANY version) is adopted into the protocol by committing a
    // manifest for its newest version — upgrading must not strand intact
    // tables the previous release could recover.
    val versions = versionDirs(tableDir)
    val candidate = versions.filter(TableManifest.isCommitted).lastOption
      .orElse(if (versions.exists(TableManifest.isCommitted)) None
      else versions.lastOption)
    candidate match {
      case Some(latest) =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${spec.database}")
        // honor the version's pinned schema: recovering a schema-EVOLVED
        // table from its (older, narrower) data files alone would
        // silently drop the added columns from the catalog
        val reread = sidecarSchema(latest) match {
          case Some(sch) =>
            spark.read.schema(sch).format(spec.fileFormat).load(latest.toString)
          case None =>
            spark.read.format(spec.fileFormat).load(latest.toString)
        }
        if (!TableManifest.isCommitted(latest)) // legacy adoption
          TableManifest.commit(latest, schemaHash(reread), spec.fileFormat): Unit
        CommitLog.record(tableDir, versionNumber(latest))
        createExternal(spark, fq, spec, reread, latest)
        repairTable(spark, fq, spec)
        true
      case None => false
    }
  }

  /** Partition keys are immutable once a table exists (reference
    * DatasetValidatorUtil.scala:186-199): a changed partition layout over
    * old files silently mis-partitions every earlier row, so it is an error,
    * not an evolution.
    */
  private def guardPartitionKeysImmutable(spark: SparkSession, fq: String,
      spec: ObjectStoreSpec): Unit = {
    import scala.jdk.CollectionConverters._
    val existing = spark.catalog.listColumns(fq).collectAsList().asScala
      .filter(_.isPartition).map(_.name).toSeq
    if (existing != spec.partitionBy)
      throw new PipelineSpecException(
        s"partition keys are immutable: table $fq is partitioned by " +
          s"[${existing.mkString(", ")}], spec says [${spec.partitionBy.mkString(", ")}]")
  }

  /** Reverse-engineer the [[ObjectStoreSpec]] of an already-registered
    * versioned table from the catalog alone — the entry point for SQL
    * maintenance commands (`OPTIMIZE` / `VACUUM` / `SHOW SNAPSHOTS`),
    * where the user names a table, not a spec. The protocol's layout is
    * `path/database/table/v-NNNNNN`, so the lake root, names, partition
    * columns (catalog) and file format (manifest extension) are all
    * derivable. Throws on tables that don't follow the layout — a
    * maintenance command must never guess at a foreign directory tree.
    */
  def specFor(spark: SparkSession, database: String,
      table: String): ObjectStoreSpec = {
    val fq = s"$database.$table"
    val loc = currentLocation(spark, fq)
    val tableDir = loc.getFileName.toString match {
      case VersionDir(_) => loc.getParent
      case _ => loc
    }
    if (tableDir.getFileName.toString != table ||
      tableDir.getParent == null ||
      tableDir.getParent.getFileName.toString != database ||
      tableDir.getParent.getParent == null)
      throw new graft.model.TableLayoutException(
        s"$fq at $loc does not follow the versioned-table layout " +
          "path/database/table/v-NNNNNN — refusing maintenance")
    // the manifest records the committing writer's declared format; only
    // LEGACY manifests (pre-field) fall back to extension matching over
    // the known formats — an unknown extension throws, never guesses
    val manifest = TableManifest.read(loc)
    val fmt = manifest.map(_.fileFormat).filter(_.nonEmpty).getOrElse {
      manifest.toSeq.flatMap(_.files.map(_.path)).headOption match {
        case Some(p) if p.endsWith(".parquet") => "parquet"
        case Some(p) if p.endsWith(".orc") => "orc"
        case Some(p) if p.endsWith(".csv") => "csv"
        case Some(p) if p.endsWith(".json") => "json"
        case Some(p) => throw new graft.model.PipelineSpecException(
          s"$fq: cannot determine the file format of legacy-manifest data " +
            s"file '$p' — refusing maintenance rather than guessing")
        case None => "parquet" // empty committed table: format is moot
      }
    }
    import spark.implicits._
    val parts = spark.catalog.listColumns(fq)
      .filter(_.isPartition).map(_.name).collect().toSeq
    // recover the bloom-indexed columns from the live version's shard
    // FILENAMES (identifier-safe names embed verbatim), so maintenance
    // and SQL DML commits — which derive their spec here — rebuild the
    // index instead of silently dropping it. Hash-named shards (non-
    // identifier columns) recover as their hash, which the rebuild's
    // schema lookup then skips: that column's index lapses, never breaks.
    val blooms =
      try {
        val s = Files.list(loc)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .collect { case n if n.startsWith("_blooms_") && n.endsWith(".json") =>
              n.stripPrefix("_blooms_").stripSuffix(".json") }
            .toSeq.sorted
        } finally s.close()
      } catch { case _: Exception => Nil }
    // sum-maintained columns recover from the live manifest itself (any
    // entry carrying a recorded sum), so maintenance and SQL DML commits
    // keep the sums maintained instead of silently dropping them
    val sums = manifest.toSeq.flatMap(_.files.flatMap(
      _.stats.toSeq.flatMap(_.collect {
        case (c, cs) if cs.sum.nonEmpty => c }))).distinct.sorted
    ObjectStoreSpec(path = tableDir.getParent.getParent.toString,
      database = database, table = table, partitionBy = parts,
      fileFormat = fmt, bloomColumns = blooms, sumColumns = sums)
  }

  private def currentLocation(spark: SparkSession, fq: String): Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(fq)
    Paths.get(spark.sessionState.catalog.getTableMetadata(ident).location)
  }

  private val VersionDir = raw"v-(\d{6})".r

  private def versionNumber(p: Path): Int =
    p.getFileName.toString match { case VersionDir(n) => n.toInt }

  /** Version dirs under the table root, oldest → newest. */
  private def versionDirs(tableDir: Path): Seq[Path] =
    if (!Files.exists(tableDir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(tableDir)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          VersionDir.pattern.matcher(p.getFileName.toString).matches())
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  private def nextVersionDir(tableDir: Path): Path = {
    // max over BOTH the listing (uncommitted leftovers must not collide)
    // and the commit log (a committed version an eventually-consistent
    // listing has not surfaced yet must not be overwritten)
    val maxN = (versionDirs(tableDir).map(versionNumber) ++
      CommitLog.read(tableDir).getOrElse(Nil)).maxOption.getOrElse(0)
    tableDir.resolve(f"v-${maxN + 1}%06d")
  }

  /** Grace window before a superseded version's files are deleted. Count-
    * based retention alone has a race: a reader that resolved version v(i)
    * can still be scanning it when two rapid swaps retire it. Requiring a
    * version to ALSO have been superseded for the grace means any read
    * that started while it was current (or previous) survives a swap burst
    * of ANY speed — grace measures from the `_superseded` stamp, never
    * from the dir's write mtime (a long-lived version swapped out twice in
    * quick succession still gets its full grace). The plain-parquet
    * analogue of snapshot-expiry retention in an ACID table format. Tests
    * shrink it to exercise deletion.
    */
  @volatile private[graft] var retireGraceMs: Long = 60000L

  /** Delete all but the newest `keep` version dirs, once retirable under
    * the manifest protocol: committed versions `retireGraceMs` after their
    * supersede stamp; uncommitted crash leftovers once quiescent for the
    * grace — every successful commit self-heals prior failures.
    */
  private def retireOldVersions(tableDir: Path, keep: Int): Unit = {
    val now = System.currentTimeMillis()
    val all = versionDirs(tableDir)
    val base = all.dropRight(keep)
      .filter(p => TableManifest.retirable(p, now, retireGraceMs))
    val retired = unreferencedOnly(all, base)
    retired.foreach(deleteTree)
    if (retired.nonEmpty)
      CommitLog.prune(tableDir, v => tableDir.resolve(f"v-$v%06d"))
  }

  /** Reachability gate for reference-mode tables: of the grace-expired
    * `candidates`, only those whose files no SURVIVING committed manifest
    * references may be deleted — a version dir physically OWNS data files
    * that newer manifests may point at ([[TableManifest.FileEntry.ref]]),
    * so retiring it would tear live snapshots (the expire-snapshots /
    * orphan-file distinction every cross-snapshot table format makes).
    * Fixpoint over the survivor set: a candidate pinned by a reference
    * survives, and its own manifest's references then pin transitively
    * older dirs. O(versions × manifest reads), metadata only; tables
    * with no references (hard-link mode) pay one pass that pins nothing.
    */
  private[graft] def unreferencedOnly(all: Seq[Path],
      candidates: Seq[Path]): Seq[Path] = {
    if (candidates.isEmpty) return candidates
    // cross-table incoming references (SHALLOW CLONE): every clone
    // registered with this table pins exactly the version dirs its
    // surviving committed manifests still resolve into — O(registered
    // clones), and a source vacuum/retention can never tear a clone
    val tableDir = candidates.head.getParent
    val externalPins: Set[Path] =
      CloneRegistry.read(tableDir).flatMap { cloneDir =>
        (try versionDirs(cloneDir) catch { case _: Exception => Nil })
          .filter(TableManifest.isCommitted).flatMap(vd =>
            TableManifest.read(vd).toSeq.flatMap(m =>
              TableManifest.externalOwnerDirs(vd, m)))
      }.toSet
    var retire = candidates
      .filterNot(c => externalPins(c.toAbsolutePath.normalize)).toSet
    var changed = true
    while (changed) {
      changed = false
      val referenced = all.filterNot(retire).flatMap(p =>
        TableManifest.read(p).toSeq.flatMap(TableManifest.referencedDirs))
        .toSet
      val pinned = retire.filter(p => referenced(p.getFileName.toString))
      if (pinned.nonEmpty) { retire --= pinned; changed = true }
    }
    candidates.filter(retire)
  }

  /** CREATE TABLE ... USING fmt LOCATION ... (+ PARTITIONED BY). Datasource
    * tables declare partition columns inside the column list and reference
    * them by NAME in PARTITIONED BY (listing a type there would define a
    * new, duplicate column — Hive syntax, not USING syntax).
    */
  private def createExternal(spark: SparkSession, fq: String, spec: ObjectStoreSpec,
      sample: DataFrame, loc: Path): Unit = {
    val allCols = sample.schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}")
    val partClause =
      if (spec.partitionBy.nonEmpty)
        s"PARTITIONED BY (${spec.partitionBy.map(c => s"`$c`").mkString(", ")})"
      else ""
    spark.sql(
      s"""CREATE TABLE $fq (${allCols.mkString(", ")})
         |USING ${spec.fileFormat} $partClause LOCATION '${loc.toUri}'""".stripMargin)
  }

  /** MSCK REPAIR equivalent: sync partition directories into the catalog
    * (reference transform ObjectStoreUtil.scala:183-209 repairTable).
    */
  def repairTable(spark: SparkSession, fq: String, spec: ObjectStoreSpec): Unit =
    if (spec.partitionBy.nonEmpty) graft.model.InternalDdl.run {
      spark.sql(s"MSCK REPAIR TABLE $fq"): Unit
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
