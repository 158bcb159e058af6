package graft.sinks

import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Manifest-file commit protocol for the versioned-directory table format —
  * the step from "directory swap that works locally" to a commit that
  * survives object-store listing inconsistency at 100 TB (reference
  * analogue: the Iceberg snapshot+manifest chain, IcebergUtil.scala:28-157).
  *
  * Protocol:
  *   - a version directory is COMMITTED iff `_manifest.json` exists; the
  *     manifest is written to a temp name and published with one atomic
  *     rename AFTER every data file is fully written, so no reader of the
  *     manifest can ever observe a partial file set — directory listing is
  *     never the source of truth for committed versions;
  *   - the manifest records the data files (relative paths + sizes), total
  *     bytes, exact row count (parquet footer metadata — O(files) footer
  *     reads, never a data scan), a schema hash, and the commit timestamp;
  *   - when a newer version commits, every older committed version gets a
  *     `_superseded` marker stamped with the supersede TIME. Retirement
  *     grace is measured from that marker — not from the dir's write
  *     mtime — so a version that was live for a long time still gets its
  *     full reader-safety grace after being swapped out (a swap burst can
  *     never delete a version a reader resolved moments ago);
  *   - version dirs WITHOUT a manifest are uncommitted leftovers of a
  *     crashed write: invisible to recovery, retired once their newest
  *     file mtime is older than the grace (an in-progress writer keeps
  *     touching files, so an active write is never swept).
  *
  * In-place writers (catalog appends, CDC dynamic partition overwrite)
  * mutate a committed version's file set; they call [[refresh]] under the
  * table lock to re-list and atomically republish the manifest.
  */
object TableManifest {

  val ManifestName = "_manifest.json"
  val SupersededName = "_superseded"

  /** The atomic-publish seam every metadata commit goes through: POSIX
    * rename locally; a deployment against an object store (no atomic
    * rename) injects the store's conditional-PUT equivalent and nothing
    * above this seam changes. See [[CommitPublisher]].
    */
  @volatile var publisher: CommitPublisher = PosixCommitPublisher

  /** Per-file, per-column zone-map entry: the [min, max] value range and
    * null count lifted out of the parquet footer at commit time. `typ` is
    * the comparison domain — "long" (plain signed integral physical types),
    * "double" (float/double), "string" (ASCII-only UTF8 binary — non-ASCII
    * ranges are dropped because parquet orders bytes while the JVM orders
    * UTF-16 code units, and an order mismatch would make pruning unsound),
    * "date" (int32 DATE annotation; min/max are epoch-day counts), "tsus"
    * / "tsms" (int64 TIMESTAMP annotation adjusted to UTC, micro- resp.
    * milli-second epoch offsets — unadjusted/NTZ and NANOS timestamps
    * get no range), "null" (the file holds ONLY nulls for this
    * column — provably disjoint from any range predicate), or "opaque"
    * (no sound comparison order exists for the domain: the entry carries
    * ONLY the null count — it never prunes, but keeps metadata-only
    * COUNT(col) answerable), or "dec" (int32/int64 DECIMAL annotation:
    * min/max are the raw UNSCALED values with the column's `scale`
    * recorded alongside — unscaled longs at ONE scale order exactly like
    * the decimal values they encode, and every comparison reconstructs
    * the true BigDecimal, so the r12 restriction that made money columns
    * stats-dark is lifted WITHOUT the unsoundness it guarded against:
    * an integral/double predicate never compares against "dec" stats,
    * only an exact decimal one does). Unsigned-int annotations are
    * dropped (parquet orders them unsigned, the JVM signed). Columns
    * without complete stats simply have no entry: absence always means
    * "cannot prune", never "empty".
    */
  /** `sum` is the file's EXACT column sum over its non-null values,
    * recorded only for sum-maintained columns ([[enrichSums]]) in the two
    * exact domains — "long" (plain integer string, BigInt so no overflow)
    * and "dec" (unscaled integer string at `scale`) — and "" otherwise
    * (json4s fills the default on manifests written before the field
    * existed). Floating domains are never recorded: their sums are
    * order-dependent, and the manifest only ever serves exact answers.
    */
  final case class ColStats(typ: String, min: String, max: String, nulls: Long,
      scale: Int = 0, sum: String = "")

  /** `rows` is the file's exact footer row count, or -1 when unknown
    * (non-parquet commits, manifests written before the field existed —
    * json4s fills the default on old JSON). Per-file counts are what make
    * GROUPED metadata aggregates provable: a partition-valued group's
    * COUNT(*) is the sum of its files' rows.
    *
    * `ref` is the cross-version file REFERENCE form (object-store mode —
    * [[CommitPublisher.carryByReference]]): when nonempty, the entry's
    * bytes live at `tableDir/ref` (a data file physically owned by a
    * PRIOR version dir, e.g. "v-000002/part-x.parquet") and nothing
    * exists at `versionDir/path`. `path` stays the entry's LOGICAL
    * version-relative key — what stats maps, Bloom shards, and partition-
    * value derivation are keyed by — so every metadata consumer is
    * untouched by where the bytes physically sit. References are always
    * FLAT (they point at the version that wrote the file, never at
    * another reference), the exact discipline of an Iceberg manifest
    * referencing data files across snapshots (the reference's Athena
    * Iceberg tables, IcebergUtil.scala:28-157). "" = physically present
    * in the own version dir (hard-link mode and all pre-r15 manifests —
    * json4s fills the default).
    */
  final case class FileEntry(path: String, bytes: Long,
      stats: Option[Map[String, ColStats]] = None, rows: Long = -1L,
      ref: String = "")

  /** Physical location of an entry's bytes: its own version dir for
    * plain entries, the referenced prior version dir for `ref` entries.
    * The table dir is always the version dir's parent (the protocol's
    * `path/database/table/v-NNNNNN` layout).
    */
  def resolved(versionDir: Path, e: FileEntry): Path =
    if (e.ref.isEmpty) versionDir.resolve(e.path)
    else versionDir.getParent.resolve(e.ref).normalize

  /** The VERSION DIR physically owning an entry's bytes. Every `ref`
    * ends with the entry's own logical `path` (the carry discipline —
    * link-commit carries and clone references alike preserve the logical
    * relative path as the tail), so the owner is the resolved location
    * with the logical segments stripped — correct for same-table refs
    * (`v-NNNNNN/…`) and cross-table SHALLOW CLONE refs
    * (`../srcTable/v-NNNNNN/…`) alike, partitioned or not.
    */
  def ownerDir(versionDir: Path, e: FileEntry): Path =
    if (e.ref.isEmpty) versionDir
    else (1 to Paths.get(e.path).getNameCount)
      .foldLeft(resolved(versionDir, e))((p, _) => p.getParent)

  /** The SAME-TABLE version-dir names (`v-NNNNNN`) this manifest
    * references INTO — the intra-table reachability edges Vacuum and
    * retention honor: a version dir retires only when no surviving
    * manifest references its files. Cross-table references (a SHALLOW
    * CLONE's `../table/v-NNNNNN/…` entries) are excluded here — they pin
    * through the owner table's clone registry instead
    * ([[graft.sinks.CloneRegistry]]).
    */
  def referencedDirs(m: Manifest): Set[String] =
    m.files.iterator.filter(e => e.ref.nonEmpty && !e.ref.startsWith(".."))
      .map(e => e.ref.takeWhile(_ != '/')).toSet

  /** Distinct FOREIGN version dirs (other tables') this manifest's
    * reference entries resolve into — the incoming-reference edges a
    * SHALLOW CLONE creates against its source.
    */
  def externalOwnerDirs(versionDir: Path, m: Manifest): Set[Path] =
    m.files.iterator.filter(e => e.ref.startsWith(".."))
      .map(e => ownerDir(versionDir, e).toAbsolutePath.normalize).toSet

  /** Writer-transaction stamp (the Delta `txn` mechanism): a streaming
    * writer records (appId, batchId) in the manifest it commits, so its
    * replay guard keys on ITS OWN last-applied batch instead of the raw
    * version count — a foreign commit (compaction, manual fix-up) is then
    * detectable as a version whose stamp isn't the writer's, and fails
    * loudly rather than masquerading as an applied batch.
    */
  final case class TxnStamp(appId: String, batchId: Long)

  final case class Manifest(
      files: Seq[FileEntry],
      totalBytes: Long,
      rowCount: Long, // -1 when not derivable from metadata (non-parquet)
      schemaHash: String,
      committedAtMs: Long,
      txn: Option[TxnStamp] = None,
      // the format the committing writer declared — what lets maintenance
      // (specFor) recover a spec without guessing from file extensions;
      // "" on manifests written before the field existed (json4s default)
      fileFormat: String = "")

  private implicit val formats: Formats = DefaultFormats

  def isCommitted(versionDir: Path): Boolean =
    Files.exists(versionDir.resolve(ManifestName))

  def read(versionDir: Path): Option[Manifest] = {
    val mf = versionDir.resolve(ManifestName)
    if (!Files.exists(mf)) None
    else
      try Some(JsonMethods.parse(Files.readString(mf)).extract[Manifest])
      catch { case _: Exception => None }
  }

  /** Build + atomically publish the manifest for a fully-written version
    * dir. MUST be called before the catalog repoints at the dir.
    */
  def commit(versionDir: Path, schemaHash: String, fileFormat: String,
      txn: Option[TxnStamp] = None): Manifest = {
    val files = dataFiles(versionDir)
    val (rows, stats, perFile) = footerMeta(versionDir, files, fileFormat)
    val entries = files.map { p =>
      val rel = versionDir.relativize(p).toString
      FileEntry(rel, Files.size(p), mergedStats(rel, stats),
        perFile.getOrElse(rel, -1L))
    }
    val m = Manifest(entries, entries.map(_.bytes).sum, rows, schemaHash,
      System.currentTimeMillis(), txn, fileFormat.toLowerCase)
    publish(versionDir, m)
    m
  }

  /** Commit a version dir where SOME entries carry forward verbatim from
    * the superseded version (link-append commits: a prior version's data
    * files are hard-linked into the new dir at the SAME relative path, so
    * their manifest entries — stats, byte sizes, row counts, all computed
    * when the file was first written — remain exact for the linked inode).
    * Only the files NOT in `carried` get footer reads: an INSERT INTO a
    * 100k-file table re-reads the handful of new footers, not 100k.
    *
    * Soundness: a carried entry whose file is absent from the dir (link
    * failed, caller bug) degrades the commit to a FULL [[commit]] — the
    * manifest must never describe files that aren't there.
    */
  def commitCarried(versionDir: Path, schemaHash: String, fileFormat: String,
      txn: Option[TxnStamp], carried: Seq[FileEntry]): Manifest = {
    val present = dataFiles(versionDir)
    val presentRel = present.map(p => versionDir.relativize(p).toString).toSet
    // plain carried entries must be physically in the dir; `ref` entries
    // must resolve into their (immutable, still-present) prior version dir
    if (!carried.forall(e => e.ref.isEmpty || Files.isRegularFile(
        resolved(versionDir, e))))
      // a reference that no longer resolves is NOT degradable here: a
      // plain commit() of the dir would describe only the fresh files —
      // a silently partial image. Fail the commit (the dir stays
      // manifest-less, invisible to recovery); the CALLER owns the
      // degrade-to-full-rewrite decision with the full image in hand.
      throw new IllegalStateException(
        s"carried reference entries do not resolve under $versionDir — " +
          "refusing to commit a partial image")
    if (!carried.forall(e => e.ref.nonEmpty || presentRel(e.path)))
      return commit(versionDir, schemaHash, fileFormat, txn)
    val carriedRel = carried.map(_.path).toSet
    val fresh = present.filterNot(p =>
      carriedRel(versionDir.relativize(p).toString))
    val (rows, stats, perFile) = footerMeta(versionDir, fresh, fileFormat)
    val freshEntries = fresh.map { p =>
      val rel = versionDir.relativize(p).toString
      FileEntry(rel, Files.size(p), mergedStats(rel, stats),
        perFile.getOrElse(rel, -1L))
    }
    val entries = carried ++ freshEntries
    // exact total only when BOTH sides are exact; any -1 poisons to -1
    // (same contract as commit: -1 = "not derivable from metadata")
    val rowCount =
      if (rows >= 0 && carried.forall(_.rows >= 0))
        rows + carried.map(_.rows).sum
      else -1L
    val m = Manifest(entries, entries.map(_.bytes).sum, rowCount, schemaHash,
      System.currentTimeMillis(), txn, fileFormat.toLowerCase)
    publish(versionDir, m)
    m
  }

  /** Footer stats for `rel` unioned with its partition-directory-derived
    * column stats (the footer wins on a name clash — partition columns are
    * never IN the data files, so a clash means a same-named data column).
    */
  private def mergedStats(rel: String,
      footer: Map[String, Map[String, ColStats]]): Option[Map[String, ColStats]] = {
    val part = partitionStats(rel)
    val merged = part ++ footer.getOrElse(rel, Map.empty)
    if (merged.isEmpty) None else Some(merged)
  }

  /** Re-list and republish after an in-place write into a committed dir
    * (append / dynamic partition overwrite). Keeps the original commit
    * time; row count is recomputed from footers; the schema hash updates
    * when the caller passes the current one (schema-change appends
    * re-create the catalog entry over the same location).
    */
  /** `overwrotePartitions`: logical partition directories an in-place
    * DYNAMIC PARTITION OVERWRITE replaced wholesale — carried `ref`
    * entries under them are dropped (their content was superseded), while
    * a plain APPEND (empty set) keeps every reference. Physical files are
    * always re-listed; `ref` entries are immutable prior-version files
    * and carry verbatim.
    */
  def refresh(versionDir: Path, fileFormat: String,
      schemaHash: Option[String] = None,
      overwrotePartitions: Set[String] = Set.empty): Option[Manifest] =
    read(versionDir).map { old =>
      def partOf(rel: String): String = {
        val i = rel.lastIndexOf('/'); if (i < 0) "" else rel.substring(0, i)
      }
      val kept = old.files.filter(e => e.ref.nonEmpty &&
        !overwrotePartitions(partOf(e.path)))
      val files = dataFiles(versionDir)
      val (rows, stats, perFile) = footerMeta(versionDir, files, fileFormat)
      val physical = files.map { p =>
        val rel = versionDir.relativize(p).toString
        FileEntry(rel, Files.size(p), mergedStats(rel, stats),
          perFile.getOrElse(rel, -1L))
      }
      val entries = kept ++ physical
      val rowCount =
        if (rows >= 0 && kept.forall(_.rows >= 0))
          rows + kept.map(_.rows).sum
        else -1L
      val m = old.copy(files = entries, totalBytes = entries.map(_.bytes).sum,
        rowCount = rowCount, schemaHash = schemaHash.getOrElse(old.schemaHash),
        fileFormat = fileFormat.toLowerCase)
      publish(versionDir, m)
      m
    }

  /** Record EXACT per-file column sums into an already-committed
    * manifest and atomically republish it — the metadata that lets
    * [[graft.plans.MetaAggRule]] answer `SUM(col)` (and decimal `AVG`)
    * with zero scan tasks, composing with its grouped and interval-
    * filtered paths ("sum revenue for June" becomes O(files) driver
    * arithmetic on a date-clustered table). Parquet footers carry no
    * sums, so this is the one stats domain that needs a DATA pass: one
    * distributed `groupBy(input_file_name)` aggregate over the version
    * dir (or, for link-append commits, `onlyRel` — the handful of new
    * files), run at commit time while the files are hot. Opt-in via
    * `ObjectStoreSpec.sumColumns`, recovered from the live manifest by
    * `specFor` so maintenance and DML commits keep sums maintained.
    *
    * Exactness discipline: integral columns sum in decimal(38,0), decimal
    * columns in decimal(38, s) — no long overflow, no floating rounding;
    * float/double columns are REFUSED (their sums are order-dependent).
    * A per-file NULL aggregate (zero non-null values — the overflow case
    * cannot arise under the 38-digit headroom for any file under 10^19
    * rows) records "": absence, never a guess. Crash before the republish
    * leaves the original manifest — sums are an enrichment, not a commit
    * dependency.
    */
  def enrichSums(spark: org.apache.spark.sql.SparkSession, versionDir: Path,
      fileFormat: String, columns: Seq[String], m: Manifest,
      onlyRel: Option[Set[String]] = None): Manifest = {
    import org.apache.spark.sql.functions.input_file_name
    val targets = sumTargets(m, onlyRel)
    if (columns.isEmpty || targets.isEmpty) return m
    val paths = targets.map(e => resolved(versionDir, e).toString)
    val df = spark.read.format(fileFormat).load(paths: _*)
    planSums(df, columns, targets) match {
      case None => m
      case Some(plan) =>
        val rows = df.groupBy(input_file_name().as("_file"))
          .agg(plan.aggs.head, plan.aggs.tail: _*).collect()
        applySums(versionDir, m, plan, rows, offset = 0)
    }
  }

  /** The entries a sum pass targets: `onlyRel` (link commits — the fresh
    * files) or every entry.
    */
  private[sinks] def sumTargets(m: Manifest,
      onlyRel: Option[Set[String]]): Seq[FileEntry] = {
    if (m.files.isEmpty) return Nil
    val targetRels = onlyRel.getOrElse(m.files.map(_.path).toSet)
    m.files.filter(e => targetRels(e.path))
  }

  /** The planned sum pass: (column, decimal scale) pairs in the exact
    * domains plus the per-file sum aggregates, in lockstep order.
    */
  private[sinks] final case class SumPlan(targets: Seq[FileEntry],
      typed: Seq[(String, Int)], aggs: Seq[org.apache.spark.sql.Column])

  /** The decision half of [[enrichSums]] (no Spark job): which columns
    * sum exactly and at what scale — `None` when nothing qualifies. Split
    * out so a commit that also builds Bloom shards can fuse both
    * enrichments into ONE pass over the same files
    * ([[graft.sinks.ObjectStoreSink]]).
    */
  private[sinks] def planSums(df: org.apache.spark.sql.DataFrame,
      columns: Seq[String], targets: Seq[FileEntry]): Option[SumPlan] = {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    if (columns.isEmpty || targets.isEmpty) return None
    // (column, decimal scale to sum at) — exact domains only
    val typed: Seq[(String, Int)] = columns.distinct.flatMap { c =>
      df.schema.find(_.name == c).flatMap(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => Some(c -> 0)
        case d: DecimalType if d.precision <= 28 => Some(c -> d.scale)
        case _ => None // float/double/other: order-dependent or unsound
      })
    }
    if (typed.isEmpty) return None
    val aggs = typed.map { case (c, s) =>
      sum(col(c).cast(DecimalType(38, s))).as(s"s_$c") }
    Some(SumPlan(targets, typed, aggs))
  }

  /** Fold the collected per-file sums into the manifest and atomically
    * republish it. `offset` = how many non-sum aggregate columns precede
    * the plan's own in each row (0 when the pass was sums-only); column 0
    * is always the file name.
    */
  private[sinks] def applySums(versionDir: Path, m: Manifest, plan: SumPlan,
      rows: Array[org.apache.spark.sql.Row], offset: Int): Manifest = {
    val targetRels = plan.targets.map(_.path).toSet
    // physical path → LOGICAL entry key (ref entries' bytes live in a
    // prior version dir; their sums still key by the logical path)
    val physToRel = plan.targets.map(e =>
      resolved(versionDir, e).normalize.toString -> e.path).toMap
    val byRel: Map[String, org.apache.spark.sql.Row] = rows.flatMap { r =>
      val f = r.getString(0)
      try {
        val p = java.nio.file.Paths.get(java.net.URI.create(f).getPath).normalize
        physToRel.get(p.toString).map(_ -> r)
      } catch { case _: Exception => None }
    }.toMap
    val colIdx = plan.typed.map(_._1).zipWithIndex.toMap
    val entries = m.files.map { fe =>
      if (!targetRels(fe.path)) fe
      else byRel.get(fe.path) match {
        case None => fe
        case Some(r) =>
          val stats0 = fe.stats.getOrElse(Map.empty)
          val updated = plan.typed.foldLeft(stats0) { case (acc, (c, s)) =>
            (acc.get(c), Option(r.get(colIdx(c) + 1 + offset))) match {
              // only enrich a stats entry whose domain agrees: "long" for
              // integral sums, "dec" at the SAME scale for decimal sums —
              // a domain mismatch means drifted metadata; refuse to record
              case (Some(cs), Some(v: java.math.BigDecimal))
                  if cs.typ == "long" && s == 0 =>
                acc.updated(c, cs.copy(sum = v.toBigInteger.toString))
              case (Some(cs), Some(v: java.math.BigDecimal))
                  if cs.typ == "dec" && cs.scale == s =>
                acc.updated(c, cs.copy(
                  sum = v.setScale(s).unscaledValue.toString))
              case _ => acc
            }
          }
          fe.copy(stats = if (updated.isEmpty) fe.stats else Some(updated))
      }
    }
    val out = m.copy(files = entries)
    publish(versionDir, out)
    out
  }

  private def publish(versionDir: Path, m: Manifest): Unit =
    publisher.publish(versionDir, ManifestName, Serialization.writePretty(m))

  /** Stamp the supersede time (idempotent — the FIRST supersede wins, so
    * grace always measures from when the version stopped being current).
    */
  def markSuperseded(versionDir: Path): Unit =
    // publishIfAbsent makes the stamp atomic first-writer-wins: two
    // committers racing on the same older version cannot rewrite each
    // other's marker (a plain write would truncate-and-replace, moving
    // the grace window)
    publisher.publishIfAbsent(versionDir, SupersededName,
      System.currentTimeMillis().toString): Unit

  def supersededAt(versionDir: Path): Option[Long] = {
    val marker = versionDir.resolve(SupersededName)
    if (!Files.exists(marker)) None
    else
      try Some(Files.readString(marker).trim.toLong)
      catch { case _: Exception => None }
  }

  /** Retirement decision, shared by the commit path and Vacuum:
    * committed versions retire `graceMs` after their supersede stamp;
    * uncommitted leftovers retire once quiescent for `graceMs` (newest
    * file mtime — an active writer keeps touching files).
    */
  def retirable(versionDir: Path, nowMs: Long, graceMs: Long): Boolean =
    if (isCommitted(versionDir))
      supersededAt(versionDir).exists(at => nowMs - at >= graceMs)
    else nowMs - newestMtime(versionDir) >= graceMs

  /** Non-hidden regular files under the version dir (recursive — partition
    * subdirs included).
    */
  def dataFiles(versionDir: Path): Seq[Path] = {
    if (!Files.exists(versionDir)) return Nil
    val out = Seq.newBuilder[Path]
    val s = Files.walk(versionDir)
    try s.forEach { p =>
      val n = p.getFileName.toString
      if (Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith("."))
        out += p
    } finally s.close()
    out.result().sortBy(_.toString)
  }

  /** Exact row count + per-file column zone maps, from parquet footers
    * only — O(files) metadata reads, never a data scan. Stats are keyed by
    * the file's versionDir-relative path; a column appears only when EVERY
    * row group of the file carries usable statistics for it (a single
    * stats-less chunk makes the file's range unknowable → no entry → never
    * pruned). One unreadable footer degrades the whole commit to
    * (rowCount = -1, no stats) — identical to the non-parquet path.
    */
  private def footerMeta(versionDir: Path, files: Seq[Path], fileFormat: String)
      : (Long, Map[String, Map[String, ColStats]], Map[String, Long]) = {
    if (!fileFormat.equalsIgnoreCase("parquet") || files.isEmpty)
      return (if (fileFormat.equalsIgnoreCase("parquet")) 0L else -1L,
        Map.empty, Map.empty)
    val conf = new org.apache.hadoop.conf.Configuration()
    // one footer read per file over the bounded driver pool: independent
    // metadata I/O (open + footer parse). Results are keyed by relative
    // path, so completion order cannot change the manifest. One unreadable
    // footer degrades the WHOLE commit, so the first failure skips the
    // reads not yet started.
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def readOne(p: Path): Option[(String, Long, Map[String, ColStats])] =
      if (failed.get) None
      else try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try Some((versionDir.relativize(p).toString, r.getRecordCount,
          footerColStats(r.getFooter)))
        finally r.close()
      } catch { case _: Exception => failed.set(true); None } // not parquet
    val results = DriverPool.map(files)(readOne)
    if (results.exists(_.isEmpty)) return (-1L, Map.empty, Map.empty)
    val ok = results.flatten
    (ok.map(_._2).sum,
      ok.iterator.filter(_._3.nonEmpty).map(t => t._1 -> t._3).toMap,
      ok.iterator.map(t => t._1 -> t._2).toMap)
  }

  /** Merge one file's column-chunk statistics across its row groups into
    * per-column [min, max] ranges. Only domains whose JVM comparison order
    * provably matches parquet's stats order are kept: integral → "long",
    * floating → "double", ASCII-only UTF8 binary → "string" (parquet
    * compares unsigned bytes, the JVM compares UTF-16 code units — equal
    * orders only inside ASCII, so a non-ASCII range is DROPPED, not
    * approximated). An all-null file column becomes typ "null" (provably
    * disjoint from every range predicate). Booleans, int96, and
    * unannotated binary carry no entry.
    */
  private def footerColStats(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Map[String, ColStats] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
    chunks.groupBy(_.getPath.toDotString).flatMap { case (name, cs) =>
      val ss = cs.map(_.getStatistics)
      if (ss.exists(s => s == null || s.isEmpty)) None
      else {
        // -1 = UNKNOWN (some chunk didn't record null counts): range
        // pruning never uses null counts, but metadata-only COUNT(col)
        // answering must see "unknown", never a fabricated 0
        val nulls =
          if (ss.exists(s => !s.isNumNullsSet || s.getNumNulls < 0)) -1L
          else ss.map(_.getNumNulls).sum
        // when no SOUND comparison order exists for the domain, the null
        // accounting alone is still provable: "opaque" carries the null
        // count with no range — it can never prune, but metadata-only
        // COUNT(col) stays answerable for decimals, NaN-poisoned floats,
        // non-ASCII strings, int96, booleans, raw binary, …
        def opaque = Some(name -> ColStats("opaque", "", "", nulls))
        val nonNull = ss.filter(_.hasNonNullValue)
        if (nonNull.isEmpty) {
          // provably all-null ONLY when every chunk's recorded null count
          // equals its value count — a writer may drop min/max for
          // oversized binary values while the chunk still holds data, and
          // absence of a range is not evidence of absence of values
          val allNull = cs.forall(c => c.getStatistics.isNumNullsSet &&
            c.getStatistics.getNumNulls == c.getValueCount)
          if (allNull) Some(name -> ColStats("null", "", "", nulls)) else opaque
        }
        else nonNull.head match {
          case _: IntStatistics | _: LongStatistics =>
            val vals = nonNull.map {
              case s: IntStatistics => (s.getMin.toLong, s.getMax.toLong)
              case s: LongStatistics => (s.getMin, s.getMax)
            }
            // the logical annotation decides the comparison DOMAIN — raw
            // int32/int64 stats mean different things under different
            // annotations, and a domain mix-up is an unsound prune
            cs.head.getPrimitiveType.getLogicalTypeAnnotation match {
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                // unscaled values at the column's fixed scale: record both
                Some(name -> ColStats("dec",
                  vals.map(_._1).min.toString, vals.map(_._2).max.toString,
                  nulls, d.getScale))
              case ann => integralDomain(ann)
                .map(dom => name -> ColStats(dom,
                  vals.map(_._1).min.toString, vals.map(_._2).max.toString,
                  nulls))
                .orElse(opaque)
            }
          case _: FloatStatistics | _: DoubleStatistics =>
            val vals = nonNull.map {
              case s: FloatStatistics => (s.getMin.toDouble, s.getMax.toDouble)
              case s: DoubleStatistics => (s.getMin, s.getMax)
            }
            // a NaN endpoint means the writer's ordering is undefined for
            // this chunk — no sound range exists
            if (vals.exists(v => v._1.isNaN || v._2.isNaN)) opaque
            else Some(name -> ColStats("double",
              vals.map(_._1).min.toString, vals.map(_._2).max.toString, nulls))
          // binary/FLBA decimals (precision > 18): unscaled big-endian
          // two's-complement bytes — usable whenever the actual values
          // fit an unscaled long (they often do; precision is a bound,
          // not a size), else opaque
          case _: BinaryStatistics
              if cs.head.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
            val scale = cs.head.getPrimitiveType.getLogicalTypeAnnotation
              .asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              .getScale
            try {
              val vals = nonNull.map { case s: BinaryStatistics =>
                (new java.math.BigInteger(s.genericGetMin.getBytes).longValueExact(),
                  new java.math.BigInteger(s.genericGetMax.getBytes).longValueExact())
              }
              Some(name -> ColStats("dec", vals.map(_._1).min.toString,
                vals.map(_._2).max.toString, nulls, scale))
            } catch { case _: ArithmeticException => opaque }
          case _: BinaryStatistics
              if cs.head.getPrimitiveType.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.stringType() =>
            val vals = nonNull.map { case s: BinaryStatistics =>
              (s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
            }
            val (mn, mx) = (vals.map(_._1).min, vals.map(_._2).max)
            if ((mn + mx).forall(_ < 128))
              Some(name -> ColStats("string", mn, mx, nulls))
            else opaque
          case _ => opaque
        }
      }
    }
  }

  /** Per-file column stats derived from the file's `key=value` partition
    * directories: a file under `source=web/` provably holds ONLY
    * `source = "web"` rows, so min = max = value and nulls = 0 — which
    * makes zone-map pruning compose with the partition layout: a Bound on
    * a partition column skips whole partition directories driver-side,
    * exactly like a Bound on a range-clustered data column. The stats
    * domain must match how Spark READS the value back (partition-column
    * type inference): a value that round-trips as a decimal long is
    * recorded as "long" (Spark infers an integral type), the Hive null
    * sentinel as "null", any other pure-ASCII value as "string"; values
    * Spark would infer as dates/doubles/non-ASCII get NO entry — a
    * cross-domain compare never prunes, so absence is always safe.
    */
  private[graft] def partitionStats(rel: String): Map[String, ColStats] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else unescapePartitionValue(seg.substring(i + 1)).flatMap { v =>
        val name = seg.substring(0, i)
        if (v == "__HIVE_DEFAULT_PARTITION__")
          Some(name -> ColStats("null", "", "", -1L))
        else if (v.toLongOption.exists(_.toString == v))
          Some(name -> ColStats("long", v, v, 0L))
        else if (v.nonEmpty && v.forall(c => c >= ' ' && c < 127) &&
          v.toDoubleOption.isEmpty && !looksTemporal(v))
          Some(name -> ColStats("string", v, v, 0L))
        else None
      }
    }.toMap

  /** Values partition-type inference would read back as DATE/TIMESTAMP —
    * their JVM string order is NOT the read-back column's order, so they
    * must not carry "string" stats.
    */
  private def looksTemporal(v: String): Boolean =
    v.length >= 10 && v.take(10).matches(raw"\d{4}-\d{2}-\d{2}")

  /** Hive partition-path unescape: `%xx` → byte. Conservative — any
    * malformed escape or multi-byte (non-ASCII) result yields None.
    */
  private def unescapePartitionValue(s: String): Option[String] =
    if (!s.contains('%')) Some(s)
    else try {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%') {
          val b = Integer.parseInt(s.substring(i + 1, i + 3), 16)
          if (b >= 128) return None // multi-byte UTF-8: order not provable
          out.append(b.toChar); i += 3
        } else { out.append(s.charAt(i)); i += 1 }
      }
      Some(out.toString)
    } catch { case _: Exception => None }

  /** The [[ColStats]] comparison domain for int32/int64 physical stats, by
    * logical annotation — or None when no JVM-side compare provably matches
    * parquet's stats order (unsigned ints, unscaled decimals, NANOS or
    * non-UTC timestamps, TIME). See the [[ColStats]] soundness notes.
    */
  private def integralDomain(
      ann: org.apache.parquet.schema.LogicalTypeAnnotation): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    ann match {
      case null => Some("long") // plain INT32/INT64
      case i: IntLogicalTypeAnnotation if i.isSigned => Some("long")
      case _: DateLogicalTypeAnnotation => Some("date")
      case t: TimestampLogicalTypeAnnotation if t.isAdjustedToUTC =>
        t.getUnit match {
          case TimeUnit.MICROS => Some("tsus")
          case TimeUnit.MILLIS => Some("tsms")
          case _ => None // NANOS: no lossless micros mapping at the edges
        }
      case _ => None // unsigned int, decimal (unscaled!), time, non-UTC ts
    }
  }

  private def newestMtime(versionDir: Path): Long = {
    if (!Files.exists(versionDir)) return 0L
    val s = Files.walk(versionDir)
    try {
      var newest = 0L
      s.forEach { p =>
        val t = Files.getLastModifiedTime(p).toMillis
        if (t > newest) newest = t
      }
      newest
    } finally s.close()
  }
}
