package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Incremental near-duplicate detection against a STANDING index — the
  * production shape of MinHash-LSH dedup: the corpus's signatures are
  * computed once and persisted; each arriving batch computes signatures for
  * ITS documents only and probes the index. Per-ingest cost is
  * O(batch + matched buckets), never O(corpus) — at 100 TB re-sketching the
  * corpus per ingest is the difference between minutes and days.
  *
  * The index is three plain DataFrames (persistable as tables, no custom
  * format):
  *   - `bands`:  (doc_id, band_idx, h) — LSH band-bucket rows,
  *   - `hashes`: (doc_id, h) — distinct shingle hashes for Jaccard verify,
  *   - `counts`: (doc_id, n_tok) — per-doc distinct-hash counts,
  * built by the same kernels as the batch path (one hash contract
  * end-to-end, so batch-mode results and incremental results agree
  * exactly — see Dedup.lshCandidates / q_jaccard_pairs).
  *
  * Matching applies the same hot-bucket cap as the batch path, over the
  * COMBINED (index ∪ batch) bucket population: a bucket that went
  * degenerate only after the batch arrived is capped too. The candidate
  * join is old-bands ⋈ new-bands plus new ⋈ new — old ⋈ old never runs.
  */
object IncrementalDedup {

  /** Persistable index state for a corpus slice.
    * @param bands  (doc_id, band_idx, h)
    * @param hashes (doc_id, h) distinct shingle hashes
    * @param counts (doc_id, n_tok) distinct-hash count per doc — stored at
    *               build time so the match path never re-aggregates the
    *               corpus hash table
    */
  final case class DedupIndex(bands: DataFrame, hashes: DataFrame,
      counts: DataFrame)

  /** Build index rows from (doc_id, tokens array<string>) — a narrow map
    * (signature kernel) plus one explode; no joins, no shuffle.
    */
  def buildIndex(docsWithTokens: DataFrame): DedupIndex = {
    val sigWide = docsWithTokens
      .select(col("doc_id"),
        graft.functions.MinHashSig.sig(col("tokens"), Dedup.NumHashes).as("sig"))
      .select(col("doc_id") +:
        (0 until Dedup.NumHashes).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    val nBands = Dedup.NumHashes / Dedup.BandSize
    val bands = sigWide.select(col("doc_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band_idx"), Dedup.bandHashPublic(b).as("h"))): _*)).as("bd"))
      .select(col("doc_id"), col("bd.band_idx"), col("bd.h"))
    val hashes = docsWithTokens
      .select(col("doc_id"), explode(col("tokens")).as("token"))
      .select(col("doc_id"), Dedup.baseHashPublic(col("token")).as("h"))
      .distinct()
    val counts = hashes.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    DedupIndex(bands, hashes, counts)
  }

  /** Near-dup pairs INVOLVING the batch: (id_a, id_b, jaccard) with
    * id_a < id_b, at least one side from `batch`, jaccard > `threshold`
    * (`threshold` must be positive — pairs are admitted strictly above it).
    * Old-vs-old pairs are never generated.
    */
  def newPairs(index: DedupIndex, batch: DedupIndex,
      threshold: Double = 0.3,
      maxBucketSize: Int = Dedup.MaxBucketSize): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    // combined per-bucket population decides hotness (same cap semantics
    // as the one-shot batch path run over the grown corpus)
    val hot = index.bands.unionByName(batch.bands).groupBy("band_idx", "h")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .select("band_idx", "h")
    // the cap filters the BATCH side only: both joins match on the bucket
    // key, so a hot bucket without batch rows yields no pair. It also keeps
    // `hot` to two references — AQE does not reuse its exchange across
    // references, so each one re-aggregates the band rows.
    val newB = batch.bands.join(broadcast(hot), Seq("band_idx", "h"), "left_anti")

    // old-vs-new joins ONE orientation (old ⋈ new), so the pair must be
    // canonicalized with least/greatest — a `id_a < id_b` filter here would
    // silently drop every pair whose indexed doc id exceeds the batch doc id
    // (doc ids carry no arrival-order contract). new-vs-new joins the batch
    // with itself and produces both orientations, so the ordering filter is
    // the correct dedup there.
    val oldVsNew = index.bands
      .select(col("band_idx"), col("h"), col("doc_id").as("old_id"))
      .join(newB.select(col("band_idx"), col("h"), col("doc_id").as("new_id")),
        Seq("band_idx", "h"))
      .filter(col("old_id") =!= col("new_id"))
      .select(least(col("old_id"), col("new_id")).as("id_a"),
        greatest(col("old_id"), col("new_id")).as("id_b"))
    val newVsNew = newB.select(col("band_idx"), col("h"), col("doc_id").as("id_a"))
      .join(batch.bands.select(col("band_idx"), col("h"), col("doc_id").as("id_b")),
        Seq("band_idx", "h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val cand = oldVsNew.unionByName(newVsNew).distinct()

    // Jaccard verify over candidate ids only, same shape as the batch
    // verify stage (hash-set intersection on 8-byte keys); per-doc counts
    // come from index state, never a corpus re-aggregation
    val hashes = index.hashes.unionByName(batch.hashes)
    val counts = index.counts.unionByName(batch.counts)
    val a = hashes.select(col("doc_id").as("id_a"), col("h"))
    val b = hashes.select(col("doc_id").as("id_b"), col("h"))
    val common = cand.join(a, "id_a").join(b, Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n_tok", "n_a"), "id_a")
      .join(counts.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n_tok", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") > threshold)
  }
}
