package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.obs.Obs
import graft.operators.IncrementalDedup
import graft.operators.IncrementalDedup.DedupIndex

/** Continuous corpus ingestion with ONLINE near-dup detection — the
  * streaming twin of [[graft.operators.IncrementalDedup]]: each
  * micro-batch of (doc_id, tokens) sketches its own documents, probes the
  * parquet-backed standing index, writes detected pairs, and extends the
  * index — per-batch cost O(batch + matched buckets), never O(corpus), no
  * matter how long the stream runs.
  *
  * Commit protocol (exactly-once for BOTH the index and the pair log):
  * each batch's index rows land under their own
  * `indexDir/batches/<key>/{bands,hashes,counts}` directory, with a
  * `_COMMIT` marker written LAST; readers union only committed batch
  * directories, so a crash between the three writes can never surface a
  * partial batch (the uncommitted directory is deleted and rewritten on
  * replay). Pairs go to `pairsDir/batch=<key>` in overwrite mode — a
  * replayed batch overwrites its own partition rather than appending a
  * duplicate, so the pair log is exactly-once per batch key. Documents
  * redelivered under a DIFFERENT batch key are dropped by an anti-join
  * against the committed counts ledger (doc_id is the intake identity,
  * the same contract as the watcher ledger).
  */
object DedupIndexStream {

  /** Start the stream. `docs` must be a streaming DataFrame with
    * (doc_id long, tokens array<string>). The checkpointed foreachBatch
    * batchId — stable across crash replays — is the batch key.
    */
  def start(spark: SparkSession, docs: DataFrame, indexDir: String,
      pairsDir: String, checkpointDir: String,
      threshold: Double = 0.3): StreamingQuery = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        applyBatch(spark, batchDf, indexDir, pairsDir, threshold, s"b$batchId")
      }
      .start()
  }

  /** One micro-batch: dedupe against the ledger, probe, write pairs,
    * extend the index, commit. Exposed for AvailableNow-style catch-up
    * use and the spec. `batchKey` must be stable across replays of the
    * same batch (foreachBatch's checkpointed batchId provides that).
    */
  def applyBatch(spark: SparkSession, batchDf: DataFrame, indexDir: String,
      pairsDir: String, threshold: Double, batchKey: String): Unit =
    synchronized(Obs.span("dedupIndex.batch")(
      applyLocked(spark, batchDf, indexDir, pairsDir, threshold, batchKey)))

  private def applyLocked(spark: SparkSession, batchDf: DataFrame,
      indexDir: String, pairsDir: String, threshold: Double,
      batchKey: String): Unit = {
      require(!batchKey.startsWith("compact-"),
        "batch keys starting with 'compact-' are reserved for compactIndex")
      val batchDir = Paths.get(indexDir, "batches", batchKey)
      val marker = batchDir.resolve("_COMMIT")
      // drop docs the committed index already holds (same doc redelivered
      // under a new batch key) and collapse same-id re-deliveries WITHIN
      // the batch — either would double the doc's index rows and corrupt
      // the verify counts. PERSIST: this (token-array-wide) shuffle feeds
      // the fingerprint, the ledger anti-join, and through it both index
      // kernels — unpersisted it would re-run for every downstream action
      val deduped = batchDf.dropDuplicates("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // order-independent content fingerprint of the incoming batch —
      // replay-stable (computed BEFORE the anti-join against the index, so
      // a replay whose docs are already indexed still reproduces it); lazy
      // because only the rare replay/reset paths and the commit need it.
      // v2 folds token content in; v1 markers (doc-id-only, from older
      // indexes) are still verified under their own semantics.
      lazy val fpV2 = fingerprint(deduped, 2)
      lazy val fpV1 = fingerprint(deduped, 1)
      def matches(stored: Fp): Boolean =
        stored == (if (stored.ver == 1) fpV1 else fpV2)
      try {
      if (Files.exists(marker)) {
        // replayed and already fully applied — unless the content differs,
        // which means a reset checkpoint is REUSING a committed key name
        parseFp(Files.readString(marker)) match {
          case Some(fp) if !matches(fp) =>
            throw new IllegalStateException(
              s"batch key '$batchKey' is committed with different content — " +
                "the stream checkpoint appears reset; use a fresh checkpoint " +
                "WITH a fresh index dir, or a distinct batch-key namespace")
          case _ => return
        }
      }
      // a batch key a compaction has superseded is EITHER a legitimate
      // replay (batch committed + compacted, but the driver crashed before
      // the streaming commit log recorded the epoch — fully applied, no-op)
      // OR a reset checkpoint reusing key names against a surviving index
      // (continuing would silently exclude this batch forever). The
      // recorded content fingerprint tells them apart; without one
      // (pre-fingerprint index) fail loudly — quiet under-deduplication is
      // the one unacceptable outcome.
      if (Files.isDirectory(batchDir.getParent)) {
        supersededEntries(batchDir.getParent).get(batchKey) match {
          case Some(Some(fp)) if matches(fp) => return // applied, compacted
          case Some(_) =>
            throw new IllegalStateException(
              s"batch key '$batchKey' was merged into a compacted index with " +
                "different (or unverifiable) content — the stream checkpoint " +
                "appears reset; use a fresh checkpoint WITH a fresh index " +
                "dir, or a distinct batch-key namespace")
          case None => ()
        }
      }
      // a crashed earlier attempt may have left uncommitted partial writes
      deleteTree(batchDir)

      val existing = Obs.span("loadIndex")(loadIndex(spark, indexDir))
      // PERSIST the ledger-filtered batch too: bands and hashes are built
      // from it as SEPARATE plans (buildIndex), so without this the
      // anti-join (and the dedup shuffle above it) would run once per kernel
      val fresh = (existing match {
        case Some(idx) =>
          deduped.join(idx.counts.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => deduped
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchIdx = IncrementalDedup.buildIndex(fresh)
      // cache the (small) batch index once: pairs + three writes read it
      batchIdx.bands.persist(); batchIdx.hashes.persist()
      batchIdx.counts.persist()
      try {
        // nothing fresh: no state to commit, replay re-derives the same
        if (Obs.span("counts.isEmpty")(batchIdx.counts.isEmpty))
          return
        val idx = existing.getOrElse(emptyIndex(batchIdx))
        val pairs = IncrementalDedup.newPairs(idx, batchIdx, threshold)
        pairs.persist()
        try {
          if (Obs.span("pairs.isEmpty")(!pairs.isEmpty))
            Obs.span("pairs.write")(
              pairs.write.mode(SaveMode.Overwrite)
                .parquet(s"$pairsDir/batch=$batchKey"))
        } finally pairs.unpersist(): Unit
        Obs.span("bands.write")(
          batchIdx.bands.write.parquet(s"$batchDir/bands"))
        Obs.span("hashes.write")(
          batchIdx.hashes.write.parquet(s"$batchDir/hashes"))
        Obs.span("counts.write")(
          batchIdx.counts.write.parquet(s"$batchDir/counts"))
        // the commit point; the marker records the batch's content
        // fingerprint so a post-compaction replay is distinguishable from
        // a reset checkpoint reusing the key name
        Obs.span("fingerprint")(Files.writeString(marker, fpString(fpV2)))
        ()
      } finally {
        batchIdx.bands.unpersist(); batchIdx.hashes.unpersist()
        batchIdx.counts.unpersist(): Unit
        fresh.unpersist(): Unit
      }
      } finally deduped.unpersist(): Unit
    }

  /** The standing index: the union of COMMITTED batch directories (minus
    * any superseded by a committed [[compactIndex]] merge). Uncommitted
    * (crashed mid-write) batches are invisible. Batch count grows with
    * stream lifetime — [[compactIndex]] merges it back to one directory
    * (metadata-only concern; the per-batch probe never scans old×old
    * regardless). Only `bands`, `hashes` and `counts` are read: any other
    * subdir an older writer left in a batch dir is ignored, and the next
    * compaction drops it.
    */
  def loadIndex(spark: SparkSession, indexDir: String): Option[DedupIndex] = {
    val base = Paths.get(indexDir, "batches")
    if (!Files.isDirectory(base)) return None
    val committed = committedDirs(base).map(_.toString)
    if (committed.isEmpty) None
    else Some(DedupIndex(
      spark.read.parquet(committed.map(_ + "/bands"): _*),
      spark.read.parquet(committed.map(_ + "/hashes"): _*),
      spark.read.parquet(committed.map(_ + "/counts"): _*)))
  }

  /** All detected pairs so far: (id_a, id_b, jaccard, batch). */
  def loadPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)

  /** Compact the standing index: merge every committed batch directory
    * into ONE, with the same crash-safe commit discipline as the stream —
    * the merged batch materializes fully (marker written last) before the
    * old directories retire, and a reader/crash at any point sees either
    * the old committed set or the new one, never both or neither. Bounds
    * the file-count growth of a long-lived stream (metadata-only concern;
    * probe cost never depended on batch count). Returns the number of
    * batch directories merged (0/1 = nothing to do).
    *
    * Run it from the same single-writer context as the stream (e.g. a
    * maintenance trigger between micro-batches) — it shares the object
    * lock with [[applyBatch]], so a concurrent batch can never interleave.
    *
    * The rewrite of each table is partitioned by its INPUT SIZE (bytes /
    * `targetPartitionBytes`, floored at defaultParallelism/4): `bands` is
    * one row per doc per band and `counts` one row per doc — corpus-sized
    * tables at 100 TB — so the merge must fan out with the data, never
    * funnel through a fixed task count.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      targetPartitionBytes: Long = 256L << 20): Int = synchronized {
    val base = Paths.get(indexDir, "batches")
    if (!Files.isDirectory(base)) return 0
    // sweep crash leftovers: (a) dirs a prior compaction superseded but did
    // not finish deleting (committedDirs already excludes them from reads);
    // (b) UNCOMMITTED compact-* attempts — if new batches arrived since the
    // crash, this attempt's target name differs and the leftover is on no
    // _MERGES list, so only this sweep ever reclaims it ('compact-' is
    // reserved: applyBatch rejects batch keys with the prefix)
    val pastSuperseded = supersededEntries(base)
    allDirs(base).filter { p =>
      val n = p.getFileName.toString
      pastSuperseded.contains(n) ||
        (n.startsWith("compact-") && !Files.exists(p.resolve("_COMMIT")))
    }.foreach(deleteTree)
    val committed = committedDirs(base)
    if (committed.size <= 1) return committed.size
    // merged dir name never collides with the stream's b<id> keys
    val target = base.resolve(
      s"compact-${committed.last.getFileName.toString}-${committed.size}")
    val idx = loadIndex(spark, indexDir).get
    def parts(sub: String): Int = {
      val bytes = committed.map(p => treeBytes(p.resolve(sub))).sum
      val byBytes = ((bytes + targetPartitionBytes - 1) / targetPartitionBytes)
        .min(Int.MaxValue).toInt
      (spark.sparkContext.defaultParallelism / 4) max byBytes max 1
    }
    idx.bands.repartition(parts("bands")).write.parquet(s"$target/bands")
    idx.hashes.repartition(parts("hashes")).write.parquet(s"$target/hashes")
    idx.counts.repartition(parts("counts")).write.parquet(s"$target/counts")
    // the supersede list makes the commit ATOMIC for readers: the instant
    // the marker lands, loadIndex serves the merged dir and EXCLUDES its
    // inputs even if their trees still exist — there is no window where
    // both (double counting) or neither (empty index) are visible. The
    // list carries FORWARD every name its inputs had superseded: deleting
    // an input compact dir must not lose the record that ITS inputs'
    // crash leftovers are dead (they would otherwise resurrect as
    // duplicates once the only _MERGES naming them disappeared). Each line
    // keeps the batch's content fingerprint (from its _COMMIT marker) so a
    // post-compaction replay of the key stays verifiable as a no-op.
    val supersedes: Map[String, Option[Fp]] =
      pastSuperseded ++ committed.map(p =>
        p.getFileName.toString -> parseFp(Files.readString(p.resolve("_COMMIT"))))
    Files.writeString(target.resolve(MergesName),
      supersedes.toSeq.sortBy(_._1).map { case (n, fp) =>
        fp.fold(n)(f => s"$n ${fpString(f)}")
      }.mkString("\n"))
    Files.write(target.resolve("_COMMIT"), Array.emptyByteArray)
    // retire the inputs at leisure; a crash here leaves excluded remnants
    // that the sweep at the top of the next compaction removes
    committed.foreach(deleteTree)
    committed.size
  }

  private val MergesName = "_MERGES"

  private def allDirs(base: Path): List[Path] = {
    val s = Files.list(base)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .toList.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Every batch name any committed compaction has superseded, with the
    * content fingerprint recorded for it (None for pre-fingerprint lines).
    */
  private def supersededEntries(base: Path): Map[String, Option[Fp]] =
    allDirs(base).filter(p => Files.exists(p.resolve("_COMMIT")))
      .flatMap { p =>
        val m = p.resolve(MergesName)
        if (!Files.exists(m)) Nil
        else Files.readString(m).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          .map { line =>
            val name = line.split("\\s+").head
            name -> parseFp(line.drop(name.length))
          }
      }.toMap

  /** Committed batch dirs, minus any superseded by a committed compaction
    * (its `_MERGES` list), oldest → newest.
    */
  private def committedDirs(base: Path): List[Path] = {
    val superseded = supersededEntries(base)
    allDirs(base).filter(p => Files.exists(p.resolve("_COMMIT")))
      .filterNot(p => superseded.contains(p.getFileName.toString))
  }

  /** A batch content fingerprint. v2 (current) hashes doc_id AND token
    * content; v1 (legacy, still verified) hashed doc_id alone — an index
    * written before v2 keeps working, its markers checked under v1
    * semantics.
    */
  private[streaming] case class Fp(ver: Int, count: Long, xor: Long)

  /** Order-independent content fingerprint of a batch: (distinct doc
    * count, XOR of xxhash64(doc_id, tokens)). XOR keeps the combine
    * overflow-free and commutative; doc_ids are already distinct when this
    * runs. Folding the token array in means a reset checkpoint that reuses
    * a committed key with the SAME doc ids but DIFFERENT documents is
    * detected, not silently accepted as a replay.
    */
  private def fingerprint(deduped: DataFrame, ver: Int): Fp = {
    import org.apache.spark.sql.functions._
    val h = if (ver == 1) expr("bit_xor(xxhash64(doc_id))")
    else expr("bit_xor(xxhash64(doc_id, tokens))")
    val r = deduped.agg(count(lit(1)), h).head()
    Fp(ver, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def fpString(fp: Fp): String = s"v${fp.ver} ${fp.count} ${fp.xor}"

  private def parseFp(s: String): Option[Fp] =
    s.trim.split("\\s+") match {
      case Array("v1", c, x) =>
        scala.util.Try(Fp(1, c.toLong, x.toLong)).toOption
      case Array("v2", c, x) =>
        scala.util.Try(Fp(2, c.toLong, x.toLong)).toOption
      case _ => None
    }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def emptyIndex(like: DedupIndex): DedupIndex =
    DedupIndex(
      like.bands.filter(org.apache.spark.sql.functions.lit(false)),
      like.hashes.filter(org.apache.spark.sql.functions.lit(false)),
      like.counts.filter(org.apache.spark.sql.functions.lit(false)))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
